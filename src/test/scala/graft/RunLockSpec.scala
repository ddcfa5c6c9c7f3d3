package graft

/** The measurement-run lock: second acquirer is refused and told who
  * holds it; release frees it for the next run. (Production mains use
  * acquireOrDie, which is this plus exit 17 — the exit path isn't
  * testable in-JVM, the refusal decision is.) */
class RunLockSpec extends SparkSpec {

  test("second concurrent acquire is refused naming the holder; release frees") {
    // RunLock reads SPARK_GRAFT_LOCK each call; env can't be set in-JVM,
    // so this uses the default target/ path but guarantees cleanup
    RunLock.release()
    try {
      assert(RunLock.tryAcquire("SpecOwnerA").isRight)
      val second = RunLock.tryAcquire("SpecOwnerB")
      assert(second.isLeft)
      assert(second.left.exists(_.contains("SpecOwnerA")),
        s"holder description should name the first owner, got: $second")
      assert(second.left.exists(_.contains("pid=")),
        "holder description should carry the pid for ps-level diagnosis")
      RunLock.release()
      assert(RunLock.tryAcquire("SpecOwnerC").isRight)
    } finally RunLock.release()
  }

  test("SPARK_GRAFT_SHUFFLE=auto sizes partitions from input bytes, " +
      "clamped to [cores, 2048]") {
    // the contract scale resolves to the core count (figure unchanged)
    assert(Session.shufflePartitionsFor("/root/testdata/sf0.1", 32) == 32)
    val d = new java.io.File(tempDir("shuf_auto"))
    assert(Session.shufflePartitionsFor(d.toString, 4) == 4) // empty → cores
    // a sparse 2 GiB input at 128 MB/partition → 16 (scales with bytes)
    val raf = new java.io.RandomAccessFile(new java.io.File(d, "big.bin"), "rw")
    try raf.setLength(2L * 1024 * 1024 * 1024) finally raf.close()
    assert(Session.shufflePartitionsFor(d.toString, 4) == 16)
    assert(Session.shufflePartitionsFor(d.toString, 32) == 32) // cores floor
  }
}
