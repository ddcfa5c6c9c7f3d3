package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LogicalPlan}
import java.net.InetSocketAddress
import graft.operators.{ArtifactManifest, TextDedup}
import graft.sql.{ChSqlTranslator, PipeRunner}

/** The reference's read-API surface (`GET /v0/pipes` list +
  * `GET /v0/pipes/{name}.json` with `Authorization: Bearer <token>`,
  * consumed at modules/tb_functions.py:255-273 and by every dashboard
  * call) as a thin serving adapter over the engine.
  *
  * Scope discipline: SURVEY §1.1 keeps serving OUT of the engine — the
  * engine's contract is [[Endpoints.renderJson]] (the payload
  * document) and the query registry. This adapter adds ONLY transport
  * and auth on top of that contract, uses nothing beyond the JDK's
  * built-in HTTP server, and owns no query logic: any deployment that
  * prefers its own gateway serves the same payloads without it.
  *
  * Token model (TOKEN "name" READ — the first line of every reference
  * pipe): a bearer credential maps to the set of pipe names it may
  * read, `*` granting all (the reference's workspace admin token).
  * Like the reference, a token that exists but lacks the pipe is
  * forbidden (403), an unknown token is unauthorized (401), an
  * unknown pipe is 404, and a bad parameter is 400.
  *
  * Status semantics verified against tb_functions.py's strict mode
  * (raise_for_status on anything non-2xx).
  *
  * Serving execution profile: every pipe fetch — built-in,
  * parameterized or pushed — builds its DataFrame once, as the pipe
  * defines it. When the leaves of its analyzed plan sum to at most
  * [[ApiServer.SmallInputBytes]], that analyzed plan runs in a child
  * session with whole-stage codegen off, expressions interpreted
  * (`factoryMode=NO_CODEGEN`) and AQE off ([[ApiServer.SmallInputConfs]]):
  * such a query finishes faster than Janino compiles its classes, and
  * Spark's 100-entry codegen cache cannot hold the classes of a
  * dashboard's endpoints, so a compiled request mostly compiles again.
  * A larger or unsized input (Spark's default size, which is huge)
  * runs compiled in the session that built it. Nothing is cached:
  * each request plans and runs its query again. DESIGN.md, "Serving
  * execution profile", has the measurements behind the three confs
  * and the constant. */
final class ApiServer(spark: SparkSession, sfDir: String,
                      tokens: Map[String, Set[String]],
                      rowLimit: Int = 10000,
                      datasourceDirs: Map[String, String] = Map.empty) {

  /** The built-in pipes: every registered query, with no params, and
    * the [[ParamEndpoints]] pipes in place of their registry entries. */
  private val builtIn: Map[String, ApiServer.Pipe] =
    graft.SparkEntry.queries.map { case (name, q) =>
      name -> ApiServer.Pipe(Set.empty, clientShaped = false, _ => q(spark, sfDir))
    } ++ ParamEndpoints.pipes(spark, sfDir)

  /** Every servable pipe by name: the built-ins plus the pipes pushed to
    * `POST /v0/datafiles` (tb_functions.py's create_pipe at
    * modules/tb_functions.py:225-252). The one answer to "which pipes
    * exist" — listing, fetch, token scopes and the push-time shadow
    * check all read it. */
  @volatile private var pipes: Map[String, ApiServer.Pipe] = builtIn
  @volatile private var datasources = Map.empty[String, KitParser.DatasourceDef]
  // token lifecycle (tb_functions.py:321-354). The constructor grants
  // are a copy the revocation removes names from: a revoked
  // constructor name never regains its original grants, so a later
  // re-creation is exactly its POSTed scope. Pushed pipes' TOKEN grants
  // and created tokens live apart, since a pipe's rotation and deletion
  // strip only the grants pushes minted.
  @volatile private var constructorTokens = tokens
  @volatile private var dynamicTokens = Map.empty[String, Set[String]]
  // revoked names a datafile push must not bring back
  @volatile private var revokedTokens = Set.empty[String]
  // reads stay lock-free on the volatiles; every read-modify-write goes
  // through this lock — two concurrent POSTs on the request pool would
  // otherwise each publish snapshot+own-entry and silently drop the
  // other's pipe/token/datasource (lost update, not last-write-wins)
  private val stateLock = new Object

  /** The pipe served under `name`, if any. */
  private[graft] def pipe(name: String): Option[ApiServer.Pipe] = pipes.get(name)

  // without an executor the JDK server handles requests on its
  // dispatch thread — one slow query would serialize every client.
  // A small pool matches the dashboard concurrency the reference
  // serves; SparkSession is thread-safe for concurrent actions.
  private[graft] val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/v0/pipes", (ex: HttpExchange) => handle(ex))
    s.createContext("/v0/datafiles", (ex: HttpExchange) => handleDatafiles(ex))
    s.createContext("/v0/tokens", (ex: HttpExchange) => handleTokens(ex))
    s.createContext("/v0/datasources", (ex: HttpExchange) => handleDatasources(ex))
    s.createContext("/v0/dedup_artifacts",
      (ex: HttpExchange) => handleDedupArtifacts(ex))
    s.setExecutor(pool)
    s
  }

  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Drain: the server stops accepting and waits for in-flight
    * exchanges to answer, then the pool finishes its handlers. Each
    * wait is bounded by `ApiServer.DrainSeconds`. */
  def stop(): Unit = {
    server.stop(ApiServer.DrainSeconds)
    pool.shutdown()
    pool.awaitTermination(ApiServer.DrainSeconds, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** One catch discipline for every handler. NOTE: callers must not
    * `return` inside `body` — a non-local return from the closure
    * would be swallowed by the Throwable arm as a 500. An
    * AnalysisException reaching THIS handler is a server-side defect
    * (e.g. a registry query over a missing data dir) and
    * is logged as a 500; analysis failures caused by CLIENT input go
    * through [[clientSql]] at the sites where the SQL or params are
    * client-supplied, which remaps them to 400. */
  private def guarded(ex: HttpExchange)(body: => Unit): Unit =
    try body catch {
      // String.valueOf: an IAE raised inside Spark can carry a null
      // message, and an NPE inside a handler would abandon the
      // exchange with no response at all (client hangs to EOF)
      case e: IllegalArgumentException =>
        fail(ex, 400, String.valueOf(e.getMessage))
      case e: Throwable =>
        // generic body: raw internal messages leak paths/plan fragments
        // to any authenticated client; the detail goes to the server log
        System.err.println(s"[api] 500 on ${ex.getRequestURI}: $e")
        fail(ex, 500, "internal error")
    }

  /** Scope the AnalysisException→400 mapping to where it belongs:
    * execution whose SQL or params are CLIENT-supplied (a pushed
    * pipe's text, template params, a `k=-1` that only surfaces at
    * Spark's LIMIT analysis). Wrapping exactly these sites — instead
    * of mapping every AnalysisException in [[guarded]] — keeps a
    * genuine server defect on the read path (a registry query over a
    * missing input) as a logged 500 rather than silently blaming the
    * client. */
  private def clientSql[A](body: => A): A =
    try body catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(String.valueOf(e.getMessage))
    }

  private def handle(ex: HttpExchange): Unit = guarded(ex) {
    if (ex.getRequestMethod != "GET") {
      // the read API is GET-only (tb_functions.py uses requests.get
      // for every pipe read; DELETE/POST address the control plane,
      // which is out of engine scope)
      fail(ex, 405, "read API is GET-only")
    } else withGrants(ex) { grants =>
      val path = ex.getRequestURI.getPath
      if (path == "/v0/pipes" || path == "/v0/pipes/") {
        val visible = pipes.keys.toSeq.sorted.filter(p => grants("*") || grants(p))
        val items = visible.map(n =>
          s"""{"name":"$n","type":"endpoint"}""").mkString("[", ",", "]")
        respond(ex, 200, s"""{"pipes":$items}""")
      } else {
        // format suffix selects the rendering, like the reference API
        // (.json envelope, .csv, .ndjson; bare name defaults to json)
        val tail = path.stripPrefix("/v0/pipes/")
        val (name, format) = tail.lastIndexOf('.') match {
          case i if i > 0 && Set("json", "csv", "ndjson")(tail.substring(i + 1)) =>
            (tail.take(i), tail.substring(i + 1))
          case _ => (tail, "json")
        }
        // looked up ONCE: a concurrent DELETE /v0/datafiles between a
        // contains() check and a later lookup would turn the race into
        // a 500 instead of this request just seeing one side
        pipe(name) match {
          case None => fail(ex, 404, s"pipe not found: $name")
          case Some(_) if !(grants("*") || grants(name)) =>
            fail(ex, 403, s"token lacks READ on $name")
          case Some(p) =>
            val params = queryParams(ex)
            def render(): (Endpoints.Rendered, String) = {
              val df = profiled(p.run(params))
              format match {
                case "csv" => (Endpoints.renderCsv(df, rowLimit), "text/csv")
                case "ndjson" =>
                  (Endpoints.renderNdjson(df, rowLimit), "application/x-ndjson")
                case _ => (Endpoints.renderJson(df, rowLimit), "application/json")
              }
            }
            // render runs inside the wrap because Spark raises most
            // analysis errors at action time, not at DataFrame
            // construction
            val rendered = if (p.clientShaped) clientSql(render()) else render()
            // envelope-less formats signal a clipped result via header
            // (the .json envelope carries rows_before_limit_at_least)
            if (rendered._1.overflow)
              ex.getResponseHeaders.set("X-Rows-Before-Limit-At-Least",
                String.valueOf(rowLimit + 1))
            respond(ex, 200, rendered._1.body, rendered._2)
        }
      }
    }
  }

  /** The control plane: `POST /v0/datafiles?name=<file>.pipe|.datasource`
    * with the kit-file text as the body (the engine-side of
    * tb_functions.py:225-252's file push), `DELETE /v0/datafiles/{name}`,
    * `GET /v0/datafiles` to list. Write verbs require a workspace-admin
    * token (a `*` grant — the reference's admin token manages datafiles
    * and tokens, tb_functions.py:321-354). A POSTed pipe is parsed,
    * ANALYZED in the serving session (bad SQL 400s at push time, not
    * first fetch), its TOKEN declarations become live bearer grants, and
    * it serves immediately at `/v0/pipes/{name}` in every format. */
  private def handleDatafiles(ex: HttpExchange): Unit = guarded(ex) {
    adminOnly(ex, "datafiles require a workspace admin token") {
      val path = ex.getRequestURI.getPath
      ex.getRequestMethod match {
        case "GET" =>
          val items =
            ((pipes.keySet -- builtIn.keySet)
              .map(n => s"""{"name":${Endpoints.q(n + ".pipe")}}""") ++
              datasources.keys.map(n => s"""{"name":${Endpoints.q(n + ".datasource")}}"""))
              .toSeq.sorted.mkString("[", ",", "]")
          respond(ex, 200, s"""{"datafiles":$items}""")
        case "POST" =>
          val fileName = queryParams(ex).getOrElse("name",
            throw new IllegalArgumentException("missing ?name=<file>.pipe|.datasource"))
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          if (fileName.endsWith(".pipe")) {
            val pipeName = fileName.stripSuffix(".pipe")
            // a name like `*` would make its TOKEN declarations
            // workspace-admin grants (the `grants("*")` check), and
            // dots collide with the format-suffix parser
            require(pipeName.matches("[A-Za-z0-9_]+"),
              s"invalid pipe name (want [A-Za-z0-9_]+): $pipeName")
            val nodes = PipeRunner.parse(body)
            require(nodes.nonEmpty, s"no SQL nodes in $fileName")
            require(!builtIn.contains(pipeName),
              s"$pipeName shadows a built-in pipe")
            // analyze now: a pipe that doesn't resolve must 400 at
            // push time, not surprise the first dashboard fetch.
            // Required template params get type-shaped placeholders
            // (a pipe with a bare {{DateTime(start)}} is legal — the
            // param arrives with the fetch); the no-params pass then
            // covers the {% else %} branches, tolerating only the
            // unbound-param error that a required-param pipe raises
            // by construction.
            val sql = nodes.map(_.sql).mkString("\n")
            val placeholders = ChSqlTranslator.templateParams(sql).map {
              case (p, t) => p -> ApiServer.placeholderFor(t) }
            clientSql(PipeRunner.runNodes(serving, nodes, placeholders))
            if (placeholders.nonEmpty)
              try clientSql(PipeRunner.runNodes(serving, nodes))
              catch {
                case e: IllegalArgumentException
                  if String.valueOf(e.getMessage)
                    .startsWith("unbound template param") => ()
              }
            // the translator ignores keys a pipe does not declare, so
            // without the params check in Pipe.run a typo'd param
            // would silently take the `{% else %}` branch with a 200
            val pushed = ApiServer.Pipe(ChSqlTranslator.declaredParams(sql),
              clientShaped = true,
              params => PipeRunner.runNodes(serving, nodes, params))
            val declared = ApiServer.tokensFromPipes(Seq(pipeName -> body))
            // a REVOKED name stays dead on a datafile push: locally
            // the token NAME is the secret, so re-enabling the
            // exact revoked string as a push side effect would
            // resurrect a leaked credential (the reference is safe
            // here only because re-provisioning mints a new
            // server-side secret). Re-issuing a revoked name takes
            // an explicit POST /v0/tokens; the push response names
            // what it skipped so the operator sees the gap.
            val (toks, skippedRevoked) = stateLock.synchronized {
              val (dead, live) =
                declared.partition { case (n, _) => revokedTokens(n) }
              pipes += pipeName -> pushed
              // overwriting an existing name is a ROTATION: grants
              // minted by the PREVIOUS version die with it (the
              // same invariant DELETE enforces) — a TOKEN line
              // removed in v2 must not keep reading v2 via v1's
              // grant.
              val rotated = dynamicTokens.flatMap { case (t, g) =>
                val g2 = g - pipeName
                if (g2.isEmpty) None else Some(t -> g2)
              }
              dynamicTokens = merge(rotated, live)
              (live, dead.keys.toSeq.sorted)
            }
            respond(ex, 200, s"""{"name":${Endpoints.q(pipeName)},"type":"pipe","nodes":${nodes.length},"tokens":${toks.keys.toSeq.sorted.map(Endpoints.q).mkString("[", ",", "]")},"skipped_revoked_tokens":${skippedRevoked.map(Endpoints.q).mkString("[", ",", "]")}}""")
          } else if (fileName.endsWith(".datasource")) {
            val dsName = fileName.stripSuffix(".datasource")
            require(dsName.matches("[A-Za-z0-9_]+"),
              s"invalid datasource name (want [A-Za-z0-9_]+): $dsName")
            val ds = KitParser.parseDatasource(dsName, body)
            stateLock.synchronized { datasources += dsName -> ds }
            val cols = ds.columns.map(c =>
              s"""{"name":${Endpoints.q(c.name)},"type":${Endpoints.q(c.dataType.simpleString)}}""")
              .mkString("[", ",", "]")
            respond(ex, 200, s"""{"name":${Endpoints.q(dsName)},"type":"datasource","columns":$cols}""")
          } else throw new IllegalArgumentException(
            s"unsupported datafile (want .pipe or .datasource): $fileName")
        case "DELETE" =>
          val fileName = path.stripPrefix("/v0/datafiles/")
          val (pipeName, dsName) =
            (fileName.stripSuffix(".pipe"), fileName.stripSuffix(".datasource"))
          if (pipes.contains(pipeName) && !builtIn.contains(pipeName)) {
            stateLock.synchronized {
              pipes -= pipeName
              // grants die with the pipe: a token it minted must not
              // survive deletion and silently read a LATER pipe
              // provisioned under the same name
              dynamicTokens = dynamicTokens.flatMap { case (t, g) =>
                val g2 = g - pipeName
                if (g2.isEmpty) None else Some(t -> g2)
              }
            }
            respond(ex, 200, s"""{"deleted":${Endpoints.q(pipeName)}}""")
          } else if (datasources.contains(dsName)) {
            stateLock.synchronized { datasources -= dsName }
            respond(ex, 200, s"""{"deleted":${Endpoints.q(dsName)}}""")
          } else fail(ex, 404, s"datafile not found: $fileName")
        case _ => fail(ex, 405, "datafiles support GET/POST/DELETE")
      }
    }
  }

  /** Token lifecycle (tb_functions.py:321-354 — tokens_list GET /tokens,
    * tokens_delete DELETE /tokens/{name}; creation is the engine-side
    * analogue of the provisioning the reference does from pipe TOKEN
    * lines): admin-gated like datafiles. Locally the token NAME is the
    * bearer credential (the reference provisions secret values
    * server-side); grants are pipe names, `*` = workspace admin. */
  private def handleTokens(ex: HttpExchange): Unit = guarded(ex) {
    adminOnly(ex, "token management requires a workspace admin token") {
      ex.getRequestMethod match {
        case "GET" =>
          val items = liveTokens.toSeq.sortBy(_._1).map { case (t, g) =>
            s"""{"name":${Endpoints.q(t)},"grants":${g.toSeq.sorted.map(Endpoints.q).mkString("[", ",", "]")}}"""
          }.mkString("[", ",", "]")
          respond(ex, 200, s"""{"tokens":$items}""")
        case "POST" =>
          val params = queryParams(ex)
          val name = params.getOrElse("name",
            throw new IllegalArgumentException("missing ?name=<token>"))
          require(name.matches("[A-Za-z0-9_]+"),
            s"invalid token name (want [A-Za-z0-9_]+): $name")
          val scope = params.getOrElse("pipes",
            throw new IllegalArgumentException(
              "missing ?pipes=<pipe,pipe,...> (or pipes=* for admin)"))
          val granted = scope.split(",").filter(_.nonEmpty).toSet
          require(granted.nonEmpty, "empty pipes scope")
          granted.filterNot(_ == "*").foreach(p =>
            require(pipes.contains(p), s"unknown pipe in scope: $p"))
          stateLock.synchronized {
            require(!liveTokens.contains(name), s"token already exists: $name")
            // re-creation after revocation is a NEW credential
            revokedTokens -= name
            dynamicTokens = merge(dynamicTokens, Map(name -> granted))
          }
          respond(ex, 200,
            s"""{"name":${Endpoints.q(name)},"grants":${granted.toSeq.sorted.map(Endpoints.q).mkString("[", ",", "]")}}""")
        case "DELETE" =>
          val name = ex.getRequestURI.getPath.stripPrefix("/v0/tokens/")
          val known = stateLock.synchronized {
            if (liveTokens.contains(name)) {
              // deleting the FINAL `*` token would permanently lock
              // the control plane (creation itself is admin-gated,
              // so there is no recovery short of restart); the
              // reference similarly protects the workspace admin
              require(
                !(liveTokens(name)("*") &&
                  liveTokens.count(_._2("*")) == 1),
                s"cannot delete the last workspace admin token: $name")
              revokedTokens += name
              constructorTokens -= name
              dynamicTokens -= name
              true
            } else false
          }
          if (known) respond(ex, 200, s"""{"deleted":${Endpoints.q(name)}}""")
          else fail(ex, 404, s"token not found: $name")
        case _ => fail(ex, 405, "tokens support GET/POST/DELETE")
      }
    }
  }

  /** Quarantine/datasource ops surface (tb_functions.py:137-155:
    * datasources_list reads `/datasources`, datasources_truncate POSTs
    * `/datasources/{name}/truncate`, quarantine tables are plain
    * datasources named `<ds>_quarantine`): GET lists the dir-backed
    * datasources (plus POSTed definitions), GET /{name} renders the
    * backing parquet rows, POST /{name}/truncate empties it. Admin-
    * gated like the reference's usage (always the workspace key). */
  private def handleDatasources(ex: HttpExchange): Unit = guarded(ex) {
    adminOnly(ex, "datasource ops require a workspace admin token") {
      val tail = ex.getRequestURI.getPath.stripPrefix("/v0/datasources")
        .stripPrefix("/")
      (ex.getRequestMethod, tail) match {
        case ("GET", "") =>
          // dir-backed datasources serve rows and truncate; POSTed
          // definitions are schema-only until backed by data — the
          // listing says which is which so a client never 404s on a
          // name the server itself just listed without warning
          val names =
            (datasourceDirs.keys ++ datasources.keys).toSeq.distinct.sorted
          val items = names.map { n =>
            val backed = datasourceDirs.contains(n)
            s"""{"name":${Endpoints.q(n)},"readable":$backed,"kind":${
              Endpoints.q(if (backed) "data" else "definition")}}"""
          }.mkString("[", ",", "]")
          respond(ex, 200, s"""{"datasources":$items}""")
        case ("GET", name) if !name.contains("/") =>
          datasourceDirs.get(name) match {
            case None if datasources.contains(name) =>
              fail(ex, 404, s"datasource $name is a definition with no data backing")
            case None => fail(ex, 404, s"datasource not found: $name")
            case Some(dir) =>
              val d = new java.io.File(dir)
              // listFiles is null if a concurrent truncate removes
              // the dir between isDirectory and the listing
              val hasData = d.isDirectory &&
                Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
                  .exists(_.getName.endsWith(".parquet"))
              if (!hasData)
                // an empty/truncated quarantine is 0 rows, not an error
                respond(ex, 200, """{"meta":[],"data":[],"rows":0}""")
              else
                respond(ex, 200,
                  Endpoints.renderJson(spark.read.parquet(dir), rowLimit).body)
          }
        case ("POST", t) if t.endsWith("/truncate") =>
          val name = t.stripSuffix("/truncate")
          datasourceDirs.get(name) match {
            case None if datasources.contains(name) =>
              fail(ex, 404, s"datasource $name is a definition with no data backing")
            case None => fail(ex, 404, s"datasource not found: $name")
            case Some(dir) =>
              val d = new java.io.File(dir)
              if (d.exists()) Layout.deleteRec(d)
              d.mkdirs()
              respond(ex, 200, s"""{"truncated":${Endpoints.q(name)}}""")
          }
        case _ => fail(ex, 405, "datasources support GET and POST {name}/truncate")
      }
    }
  }

  /** Maintenance observability — the resource-status surface next to
    * `/v0/datasources` (the reference's list/describe convention,
    * tb_functions.py:137-155) for the staged dedup artifacts: whether
    * they are CURRENT for this workspace's data dir (the read-side
    * routing predicate — exactly what decides if `emb_near_dup_pairs`
    * serves from the layout), the merge-on-read generation, whether a
    * crashed increment or compaction is pending, and the last
    * [[graft.operators.DedupMaintenance.update]] outcome verbatim.
    * Read-only and cheap (file metadata, no Spark job), so any
    * authorized token may ask; 401 without one. */
  private def handleDedupArtifacts(ex: HttpExchange): Unit = guarded(ex) {
    val art = graft.SparkEntry.dedupArtifactsDir(sfDir)
    // currency is judged under the artifact's OWN staging params (the
    // manifest's) — an artifact maintained under non-default
    // minJaccard/maxDf must not read as perpetually stale against the
    // defaults. No manifest (fresh workspace) → the defaults, which is
    // also what a first update() will build with.
    def params(m: Option[ArtifactManifest.Manifest]): (Double, Int) =
      m.fold((TextDedup.DefaultMinJaccard, TextDedup.DefaultMaxDf))(_.params)
    def statusJson: String = {
      // ONE read: every key below describes the same manifest, even
      // while an update commits beside this handler (it takes no lock)
      val m = ArtifactManifest.read(art)
      val (mj, df) = params(m)
      val current =
        m.exists(TextDedup.manifestCurrent(_, sfDir, art, Some((mj, df))))
      s"""{"path":${Endpoints.q(art)},"current":$current,""" +
        s""""min_jaccard":$mj,"max_df":$df,""" +
        s""""generation":${m.fold(0)(_.gen)},""" +
        s""""journal_pending":${m.exists(_.pending)},""" +
        s""""last_update":${m.flatMap(_.lastUpdate).getOrElse("null")}}"""
    }
    val tail = ex.getRequestURI.getPath.stripPrefix("/v0/dedup_artifacts")
      .stripPrefix("/")
    (ex.getRequestMethod, tail) match {
      case ("GET", "") => withGrants(ex)(_ => respond(ex, 200, statusJson))
      // maintenance ACTUATORS — provisioning-over-HTTP like the
      // reference's push/truncate surfaces (tb_functions.py:225-252),
      // so an operator brings artifacts current or bounds read
      // amplification without touching the JVM. Mutating → workspace
      // admin only (same gate as datasource truncate).
      case ("POST", action @ ("update" | "compact")) =>
        adminOnly(ex, "dedup maintenance requires a workspace admin token") {
          if (action == "update") {
            val (mj, df) = params(ArtifactManifest.read(art))
            val mode = graft.operators.DedupMaintenance.update(
              spark, sfDir, art, mj, df)
            respond(ex, 200,
              s"""{"action":"update","mode":${Endpoints.q(mode)},""" +
                statusJson.stripPrefix("{"))
          } else {
            graft.operators.DedupMaintenance.compact(spark, art)
            respond(ex, 200,
              s"""{"action":"compact",""" + statusJson.stripPrefix("{"))
          }
        }
      case _ => withGrants(ex)(_ =>
        fail(ex, 405, "dedup_artifacts supports GET and POST update|compact"))
    }
  }

  /** Every live token → grants: the constructor tokens not revoked,
    * merged with the pushed pipes' TOKEN grants and created tokens. */
  private def liveTokens: Map[String, Set[String]] =
    merge(constructorTokens, dynamicTokens)

  /** The session every pushed pipe runs in, built once per server. It
    * holds the serving tables as temp views under their bare names: the
    * harness star schema, `events`, and the CDC fixture log's datasource
    * tables (raw logs, the users FINAL view and the copy-job snapshot —
    * the tables the reference kit pipes query). A pipe registers no view
    * of its own ([[PipeRunner.runNodes]] runs it as one statement), so
    * concurrent fetches share this session without cross-talk, and no
    * fetch pays the schema resolutions or the users-MV plan again. */
  private lazy val serving: SparkSession = {
    val s = spark.newSession()
    for (t <- Seq("region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "documents", "embeddings"))
      s.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    graft.Tables.events(s, sfDir).createOrReplaceTempView("events")
    val fx = graft.SparkEntry.fixtureDir(spark)
    for (t <- Seq("flights_raw", "passengers_raw", "baggage_raw",
        "users_raw", "users_batch"))
      graft.fixtures.CdcFixtures.read(s, t, s"$fx/$t").createOrReplaceTempView(t)
    graft.pipes.UsersPipes.usersLatestFinal(s, fx)
      .createOrReplaceTempView("users_latest__final")
    s
  }

  /** The small-input serving profile: a child session of the server's
    * session with [[ApiServer.SmallInputConfs]] set. */
  private lazy val smallInput: SparkSession = {
    val s = spark.newSession()
    for ((k, v) <- ApiServer.SmallInputConfs) s.conf.set(k, v)
    s
  }

  /** `df`'s analyzed plan rebound into [[smallInput]] when its leaf
    * inputs sum to at most [[ApiServer.SmallInputBytes]]; otherwise
    * `df` itself, run compiled in the session that built it. */
  private def profiled(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    if (ApiServer.leafBytes(plan) <= ApiServer.SmallInputBytes)
      GraftColumnBridge.ofRows(smallInput, plan)
    else df
  }

  private def merge(a: Map[String, Set[String]],
                    b: Map[String, Set[String]]): Map[String, Set[String]] =
    (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, Set.empty) ++ b.getOrElse(k, Set.empty))).toMap

  /** Bearer token → its pipe grants, None when missing/unknown. Tokens
    * declared by POSTed pipes extend the constructor set. */
  private def authorized(ex: HttpExchange): Option[Set[String]] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer "))
      .map(_.stripPrefix("Bearer "))
      .flatMap(liveTokens.get)

  /** Runs `body` with the bearer token's grants; 401 without a live
    * token. */
  private def withGrants(ex: HttpExchange)(body: Set[String] => Unit): Unit =
    authorized(ex) match {
      case None => fail(ex, 401, "invalid or missing token")
      case Some(grants) => body(grants)
    }

  /** The control-plane gate: 401 without a live token, 403 with
    * `denial` when the token lacks the workspace-admin `*` grant. */
  private def adminOnly(ex: HttpExchange, denial: String)(body: => Unit): Unit =
    withGrants(ex)(grants => if (grants("*")) body else fail(ex, 403, denial))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map {
      _.split("&").filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"malformed query parameter: $kv")
        java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      }.toMap
    }.getOrElse(Map.empty)

  /** An error response; `msg` may echo client text, so it is escaped. */
  private def fail(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, s"""{"error":${Endpoints.q(msg)}}""")

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

}

object ApiServer {
  /** TOKEN declarations from pipe-file text (`TOKEN "name" READ` —
    * e.g. latest_flight_info.pipe:1): (token name, granted pipe). The
    * reference provisions secret values server-side; locally the
    * declared name IS the bearer credential. Several pipes can share
    * one token (the kits' "Dashboard_Read"). */
  private val TokenRe = """TOKEN\s+"([^"]+)"\s+READ""".r

  /** A servable pipe: the request params it declares, whether its SQL or
    * params come from the client (analysis errors are then the client's
    * 400, not a logged 500), and how to build its DataFrame. */
  final case class Pipe(params: Set[String], clientShaped: Boolean,
                        build: Map[String, String] => DataFrame) {
    /** Checks `request` against the declared params, then builds. A key
      * the pipe does not declare is an error, never ignored: a typo'd
      * threshold must not silently return the default answer. */
    def run(request: Map[String, String]): DataFrame = {
      val unknown = request.keySet -- params
      require(unknown.isEmpty,
        s"unknown params: ${unknown.toSeq.sorted.mkString(", ")}" +
          (if (params.isEmpty) " (the pipe takes none)"
           else s" (declared params: ${params.toSeq.sorted.mkString(", ")})"))
      build(request)
    }
  }

  /** The largest leaf input, in bytes, that a fetch runs in the
    * small-input profile. Interpreted execution beats compile-and-run
    * up to about this size and loses beyond it; DESIGN.md, "Serving
    * execution profile", has the break-even table. */
  private[graft] val SmallInputBytes: Long = 1L << 20

  /** The small-input profile's runtime confs: no whole-stage codegen,
    * interpreted expressions (`factoryMode` is an internal conf of
    * Spark 4.1), and no adaptive execution, whose per-query state only
    * adds heap for inputs this small. */
  private[graft] val SmallInputConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.adaptive.enabled" -> "false")

  /** The bytes `plan` reads: the sum of its leaves' size estimates,
    * subqueries included. A CTE reference is skipped, since its
    * definition's leaves are counted already; a leaf Spark cannot size
    * reports `spark.sql.defaultSizeInBytes`, which is huge. */
  private[graft] def leafBytes(plan: LogicalPlan): BigInt =
    plan.collectWithSubqueries {
      case l: LeafNode if !l.isInstanceOf[CTERelationRef] => l.stats.sizeInBytes
    }.sum

  /** How long `stop()` lets in-flight requests finish, per wait. */
  private val DrainSeconds = 30

  def tokensFromPipes(pipes: Seq[(String, String)]): Map[String, Set[String]] =
    pipes.flatMap { case (pipeName, text) =>
      TokenRe.findAllMatchIn(text).map(m => m.group(1) -> pipeName)
    }.groupBy(_._1).map { case (tok, grants) => tok -> grants.map(_._2).toSet }

  /** Type-shaped placeholder for push-time analysis of a pipe whose
    * template params are required (no `{% if defined %}` guard). */
  private[sources] def placeholderFor(t: String): String = t match {
    case "DateTime" => "2024-01-01 00:00:00"
    case "Date" => "2024-01-01"
    case "String" => "x"
    case "Boolean" => "true"
    case _ => "0"
  }
}
