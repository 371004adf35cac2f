package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure parts of the [[Bench]] harness: the contention rule, the
  * child's row format, the reason a dead batch records, how its
  * unreported queries re-run, and the one `SPARK_GRAFT_CPUS` parser. */
class BenchBaselineSpec extends AnyFunSuite {

  /** /proc/stat and /proc/self/stat text for a 4-CPU host whose counters
    * (USER_HZ ticks) stand at the given values. */
  private def sample(user: Long, idle: Long, steal: Long,
      self: Long): Option[Bench.CpuSample] =
    Bench.parseCpu(
      s"cpu  $user 0 0 $idle 0 0 0 $steal 0 0\ncpu0 1 0 0 1 0 0 0 0 0 0\n",
      s"4242 (java main) S 1 4242 4242 0 -1 4194560 1 0 0 0 ${self - 1} 1 " +
        "0 0 20 0 60 0 100 1000 100 0")

  // one second of wall on 4 CPUs: 400 ticks in all
  private val before = sample(user = 1000, idle = 5000, steal = 10,
    self = 900)

  test("contention rule: a quiet host is not flagged") {
    // the JVM used 300 ticks of 400, the host 4 more (kernel, daemons)
    val after = sample(1304, 5096, 10, 1200)
    val share = Bench.otherCpuShare(before, after)
    assert(share.exists(s => math.abs(s - 4.0 / 400) < 1e-9))
    assert(!Bench.contended(share))
  }

  test("contention rule: hypervisor steal alone flags the row") {
    // no other process ran, but other guests took 80 of the 400 ticks
    val after = sample(1240, 5080, 90, 1140)
    assert(Bench.otherCpuShare(before, after)
      .exists(s => math.abs(s - 80.0 / 400) < 1e-9))
    assert(Bench.contended(Bench.otherCpuShare(before, after)))
  }

  test("contention rule: a co-tenant process flags the row") {
    // a busy neighbour took 150 ticks of CPU the JVM would have used
    val after = sample(1390, 5010, 10, 1140)
    assert(Bench.otherCpuShare(before, after)
      .exists(s => math.abs(s - 150.0 / 400) < 1e-9))
    assert(Bench.contended(Bench.otherCpuShare(before, after)))
  }

  test("contention rule: an unreadable /proc/stat never flags") {
    assert(Bench.parseCpu("", "4242 (java) S 1").isEmpty)
    assert(Bench.parseCpu("intr 1 2 3\n", "").isEmpty)
    val busy = sample(1390, 5010, 10, 1140)
    assert(Bench.otherCpuShare(None, busy).isEmpty)
    assert(Bench.otherCpuShare(before, None).isEmpty)
    // no tick passed between the samples: no reading, not a zero one
    assert(Bench.otherCpuShare(before, before).isEmpty)
    assert(!Bench.contended(None))
  }

  test("a child's row round-trips, an error with tabs and newlines too") {
    val ok = Bench.QResult("q1_agg", 0.123456789, 0.1, 0.2, 12L, 3456789L,
      Some(0.0125), None)
    val failed = Bench.QResult("q_injected_fail", 1e-4, 1e-4, 1e-4, 0L, 0L,
      None, Some("RuntimeException: a\tb\nc\r\nd \\t e\\"))
    for (r <- Seq(ok, failed)) {
      val line = Bench.encodeRow(r)
      assert(!line.exists(c => c == '\n' || c == '\r'))
      assert(line.count(_ == '\t') == 7)
      assert(Bench.decodeRow(line).contains(r))
    }
    // what is not a row: the meta line, a torn last line
    assert(Bench.decodeRow("#meta\t12.5\t0.3").isEmpty)
    assert(Bench.decodeRow(Bench.encodeRow(ok).take(20)).isEmpty)
  }

  test("a dead batch's reason gives the exit code or the timeout, and " +
      "the log's last lines") {
    val tail = Seq("25/10/19 12:00:01 WARN x", "# A fatal error")
    val died = Bench.deadReason("batch6", Some(134), Some(300L), tail)
    assert(died.startsWith("batch6 exited with code 134 before reporting"))
    assert(died.endsWith("log tail:\n25/10/19 12:00:01 WARN x\n# A fatal error"))
    val killed = Bench.deadReason("batch2-rerun1", None, Some(45L), tail)
    assert(killed.startsWith("batch2-rerun1 timed out after 45 s"))
    assert(killed.contains(tail.last))
    assert(Bench.deadReason("probe", Some(1), None, Nil) ==
      "probe exited with code 1 before reporting")
  }

  test("a dead batch re-runs its culprit alone and the rest together") {
    val batch = Seq("q1", "q2", "q3", "q4", "q5")
    assert(Bench.rerunGroups(batch, Set("q1", "q2")) ==
      Seq(Seq("q3"), Seq("q4", "q5")))
    // died on its last query: nothing else to re-run
    assert(Bench.rerunGroups(batch, Set("q1", "q2", "q3", "q4")) ==
      Seq(Seq("q5")))
    // died before its first row
    assert(Bench.rerunGroups(batch, Set.empty[String]) ==
      Seq(Seq("q1"), Seq("q2", "q3", "q4", "q5")))
    assert(Bench.rerunGroups(batch, batch.toSet).isEmpty)
  }

  test("a contended row reports its fastest attempt and keeps every " +
      "reading, the one that flagged it included") {
    def row(med: Double, other: Option[Double]) = Bench.QResult("q1", med,
      med, med, 0L, 0L, other, None)
    // the first attempt was flagged (40% of the host elsewhere) and lost
    // to the re-run; its reading must stay on the record
    val r = Bench.cleanest(Seq(row(2.5, Some(0.4)), row(1.2, Some(0.01))))
    assert(r.med == 1.2 && r.otherCpu.contains(0.01) && r.contended)
    assert(r.attempts == Seq((2.5, Some(0.4)), (1.2, Some(0.01))))
    assert(Bench.attemptsJson(r) ==
      """[{"med":2.500,"other_cpu":0.400},{"med":1.200,"other_cpu":0.010}]""")
    // a re-run that did not start (cap spent) leaves the one reading;
    // an unreadable /proc/stat writes null
    val alone = Bench.cleanest(Seq(row(2.5, None)))
    assert(alone.med == 2.5 && alone.contended)
    assert(Bench.attemptsJson(alone) == """[{"med":2.500,"other_cpu":null}]""")
  }

  test("SPARK_GRAFT_CPUS is one positive integer or the run fails") {
    // each main keeps its own default: Bench and ScaleGen 16, Profile 32,
    // Verify 4
    for (default <- Seq(16, 32, 4))
      assert(Bench.parseCpus(None, default) == default)
    assert(Bench.parseCpus(Some("8"), 16) == 8)
    assert(Bench.parseCpus(Some(" 32 "), 4) == 32)
    // each of these would have reached the record's "cpus" field as is
    for (bad <- Seq("auto", "", "0", "-4", "2.5", "8 cores")) {
      val e = intercept[IllegalArgumentException](
        Bench.parseCpus(Some(bad), 4))
      assert(e.getMessage ==
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }
}
