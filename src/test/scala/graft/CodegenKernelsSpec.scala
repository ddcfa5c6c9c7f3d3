package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Round-16: the native kernels (Md5Low64, Md5Words32, SimHash64,
  * WinnowFingerprints, WinnowSpans) moved from CodegenFallback to real
  * `doGenCode` — `CollapseCodegenStages` rejects any operator whose
  * expressions contain a CodegenFallback, so the fallback forms were
  * silently dropping every containing projection out of whole-stage
  * codegen. This spec pins BOTH halves of that change:
  *
  *  1. value identity on NON-FOLDABLE inputs (literal-based pins are
  *     constant-folded at optimization time and never reach doGenCode;
  *     these inputs are derived from range(id), so the generated code
  *     path is the one executing);
  *  2. the containing stage IS whole-stage-codegen'd (the point of the
  *     change — a regression back to fallback keeps values green but
  *     kills the fusion).
  *
  * It also pins each kernel's interpreted `eval`, VectorDot and
  * SubspaceDist included, to the same bits as its generated code: the
  * HTTP server runs small inputs interpreted.
  */
class CodegenKernelsSpec extends SparkSpec {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  import graft.functions._

  // non-foldable strings with unicode, empties and repetition
  private def corpus = spark.range(64).selectExpr(
    """concat(
       cast(id as string), ' café 日本語 ',
       repeat(concat('w', cast(id % 7 as string), ' '), cast(id % 9 as int)),
       case when id % 5 = 0 then '' else 'tail' end) as s""")

  private def wsCodegen(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst {
      case w: WholeStageCodegenExec
          if w.child.toString.contains("Project") => w
    }.nonEmpty

  test("Md5Low64 == conv/substring/md5 Column form, inside WSCG") {
    val df = corpus.select(
      column(Md5Low64(expression(col("s")))).as("native"),
      // the original Column formulation the kernel replaced: the last
      // 8 md5 bytes via hex substring + base-16 parse, recentred to
      // signed. conv returns the unsigned decimal rendering as string;
      // cast to decimal then subtract 2^64 when >= 2^63.
      (conv(substring(md5(col("s")), 17, 16), 16, 10).cast("decimal(22,0)")
        - when(conv(substring(md5(col("s")), 17, 16), 16, 10)
            .cast("decimal(22,0)") >= lit(BigDecimal("9223372036854775808")),
            lit(BigDecimal("18446744073709551616"))).otherwise(lit(0)))
        .cast("long").as("ref"))
    assert(df.filter(col("native") =!= col("ref")).count() == 0)
    assert(wsCodegen(df.select(col("native"))),
      "Md5Low64 projection fell out of whole-stage codegen")
  }

  test("Md5Words32 == conv/substring words, inside WSCG") {
    val words = (0 until 4).map(g =>
      conv(substring(md5(concat(lit("m|"), col("s"))), g * 8 + 1, 8), 16, 10)
        .cast("long"))
    val df = corpus.select(
      column(Md5Words32(expression(col("s")))).as("native"),
      array(words: _*).as("ref"))
    assert(df.filter(not(col("native") <=> col("ref"))).count() == 0)
    assert(wsCodegen(df.select(col("native"))),
      "Md5Words32 projection fell out of whole-stage codegen")
  }

  test("SimHash64 == vote-matrix recompute, inside WSCG") {
    val toks = corpus.select(split(col("s"), " ").as("t"))
    val df = toks.select(col("t"),
      column(SimHash64(expression(col("t")))).as("native"))
    val rows = df.collect()
    def jvmLow64(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(
        x.getBytes("UTF-8"))
      (8 until 16).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xffL))
    }
    rows.foreach { r =>
      val ts = r.getSeq[String](0)
      val votes = new Array[Int](64)
      ts.foreach { t =>
        val h = jvmLow64(t)
        (0 until 64).foreach { b =>
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        }
      }
      val want = (0 until 64).foldLeft(0L)((a, b) =>
        if (votes(b) > 0) a | (1L << b) else a)
      assert(r.getLong(1) == want)
    }
    assert(wsCodegen(df.select(col("native"))),
      "SimHash64 projection fell out of whole-stage codegen")
  }

  test("WinnowFingerprints/WinnowSpans == HOF formulation, inside WSCG") {
    val k = 5; val w = 4
    val df = corpus.select(col("s"),
      column(WinnowFingerprints(expression(col("s")), k, w)).as("fp"),
      column(WinnowSpans(expression(col("s")), k, w)).as("sp"))
    // HOF reference for fingerprints (the formulation the kernel
    // replaced, same zero-padding and first-occurrence distinct)
    val ref = corpus.selectExpr("s", s"""
      array_distinct(transform(
        sequence(1, greatest(greatest(length(s) - $k + 1, 1) - $w + 1, 1)),
        i -> array_min(slice(
          transform(sequence(0, greatest(length(s) - $k, 0)),
            p -> aggregate(sequence(1, $k), 0L,
              (acc, j) -> (acc * 31 + coalesce(ascii(substring(s, p + j, 1)), 0))
                % 1073741824)),
          i, $w)))) as ref_fp""")
    val joined = df.join(ref, "s")
    assert(joined.filter(not(col("fp") <=> col("ref_fp"))).count() == 0,
      "WinnowFingerprints diverged from the HOF reference")
    // spans: positions must reproduce fingerprints (fp stream equal to
    // the distinct of span fps in first-occurrence order)
    val spanChk = df.selectExpr("fp",
      "array_distinct(transform(sp, x -> x.fp)) as sp_fp")
    assert(spanChk.filter(not(col("fp") <=> col("sp_fp"))).count() == 0)
    assert(wsCodegen(df.select(col("fp"))),
      "WinnowFingerprints projection fell out of whole-stage codegen")
    assert(wsCodegen(df.select(col("sp"))),
      "WinnowSpans projection fell out of whole-stage codegen")
  }

  test("every native kernel's eval is bit-identical to its generated code") {
    // the HTTP server runs small inputs with these confs, so there each
    // kernel's eval runs instead of its doGenCode
    val interpreted = spark.newSession()
    for ((k, v) <- graft.sources.ApiServer.SmallInputConfs) interpreted.conf.set(k, v)
    // non-foldable float vectors with signs, fractions and a zero
    val vec =
      "transform(sequence(0, 7), j -> cast(sin(length(s) * 7 + j) * (j - 3) as float))"
    val df = corpus.selectExpr("s", s"$vec AS a", s"reverse($vec) AS b",
        "split(s, ' ') AS t")
      .select(
        column(Md5Low64(expression(col("s")))).as("md5_low64"),
        column(Md5Words32(expression(col("s")))).as("md5_words32"),
        column(SimHash64(expression(col("t")))).as("simhash64"),
        column(WinnowFingerprints(expression(col("s")), 5, 4)).as("winnow_fp"),
        column(WinnowSpans(expression(col("s")), 5, 4)).as("winnow_spans"),
        column(VectorDot(expression(col("a")), expression(col("b")))).as("vector_dot"),
        column(SubspaceDist(expression(col("a")), expression(col("b")), 2, 4))
          .as("subspace_dist"))
    assert(wsCodegen(df), "the generated-code side fell out of whole-stage codegen")
    val evaluated = org.apache.spark.sql.GraftColumnBridge
      .ofRows(interpreted, df.queryExecution.analyzed)
    assert(evaluated.queryExecution.executedPlan
      .collectFirst { case w: WholeStageCodegenExec => w }.isEmpty)
    // doubles compared by bits: == would equate 0.0 with -0.0
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case r: org.apache.spark.sql.Row => r.toSeq.map(bits)
      case xs: Seq[_] => xs.map(bits)
      case x => x
    }
    val want = df.collect().map(bits)
    val got = evaluated.collect().map(bits)
    assert(want.length == 64)
    for ((name, i) <- df.columns.zipWithIndex)
      assert(got.map(_.asInstanceOf[Seq[Any]](i)).toSeq ==
        want.map(_.asInstanceOf[Seq[Any]](i)).toSeq, s"$name: eval differs from doGenCode")
  }

  test("the native Column helpers build their expressions without a name lookup") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import graft.operators.{TextAnalysis, TextDedup, VectorOps}
    def exprs(p: LogicalPlan): Seq[Expression] =
      p.collectWithSubqueries { case n => n.expressions }.flatten
        .flatMap(_.collect { case e => e })
    val native = Seq("vector_dot", "subspace_dist", "winnow_fingerprints",
      "winnow_spans", "simhash64").map(FunctionIdentifier(_))
    // the helpers must neither look the names up nor register them: run
    // them on a registry without the names, and put the extension's
    // entries back afterwards
    val registry = spark.sessionState.functionRegistry
    val saved = native.map(id =>
      (id, registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get))
    native.foreach(registry.dropFunction)
    try {
      val helpers: Seq[(String, () => DataFrame, Class[_])] = Seq(
        ("VectorOps.norms", () => VectorOps.norms(spark, sf), classOf[VectorDot]),
        ("VectorOps.pqCodes", () => VectorOps.pqCodes(spark, sf), classOf[SubspaceDist]),
        ("TextAnalysis.rollingFingerprints",
          () => TextAnalysis.rollingFingerprints(spark, sf), classOf[WinnowFingerprints]),
        ("TextDedup.spanIndexFrame",
          () => TextDedup.spanIndexFrame(Tables.documents(spark, sf)), classOf[WinnowSpans]),
        ("TextDedup.simhash", () => TextDedup.simhash(spark, sf), classOf[SimHash64]))
      for ((name, helper, cls) <- helpers) {
        val df = helper()
        val lookups = exprs(df.queryExecution.logical).collect {
          case f: UnresolvedFunction
              if native.exists(_.funcName == f.nameParts.last.toLowerCase) => f
        }
        assert(lookups.isEmpty, s"$name resolves a native function by name: $lookups")
        assert(exprs(df.queryExecution.analyzed).exists(cls.isInstance),
          s"$name: no ${cls.getSimpleName} in the analyzed plan")
        val registered = native.filter(registry.functionExists)
        assert(registered.isEmpty, s"$name registered $registered in the session")
      }
    } finally saved.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}
