package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[ChaosCheck]] — the executor-kill recovery drill for
  * `Checkpoint.reliable` — in a forked JVM (one SparkContext per JVM;
  * the drill needs its own `local-cluster[2,1,1536]` master, which
  * cannot coexist with the suites' shared local session).
  *
  * GraphSpec proves the durable checkpointer writes files; this proves
  * the thing those files are FOR: a PageRank that loses an executor JVM
  * mid-iteration (hard `Runtime.halt` from inside a task — no shutdown
  * hooks) completes on the degraded-then-restored cluster with
  * bit-identical ranks. Exit 2 from the drill means the standalone
  * cluster never came up — an environment problem, reported as a
  * canceled test, not a red one. */
class ExecutorLossSpec extends AnyFunSuite {

  test("PageRank with Checkpoint.reliable survives a mid-iteration executor kill") {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.ChaosCheck")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    // the worker's executor-command builder needs the Scala suffix the
    // distribution's shell scripts would normally export
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().putIfAbsent("SPARK_HOME", "/opt/spark")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val finished = proc.waitFor(12, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) { proc.destroyForcibly(); fail(s"ChaosCheck timed out:\n${out.takeRight(2000)}") }
    val code = proc.exitValue()
    if (code == 2)
      cancel(s"local-cluster never came up in this environment:\n${out.takeRight(500)}")
    assert(code == 0, s"ChaosCheck exit $code:\n${out.takeRight(2000)}")
    val line = out.linesIterator.find(_.startsWith("""{"pass"""")).getOrElse("")
    assert(line.contains(""""pass":true""") && line.contains(""""killed":true"""),
      s"unexpected drill record: $line\n${out.takeRight(1000)}")
    // ingest families (round 11 dedup, round 12 ivf + span): every
    // kill drill must have actually fired its kill AND matched the
    // no-failure rebuild, per persisted-index family
    for (fam <- Seq("ingest", "ivf_ingest", "span_ingest"))
      assert(line.contains(s""""$fam":{"pass":true,"killed":true"""),
        s"$fam drill verdict missing/failed: $line")
    // drill 6 (round 13): the CDC upsert/compaction store — executor
    // halt mid-upsertStep AND the driver-death window between each
    // compactor's commit point and its deletes must both have fired
    assert(line.contains(""""cdc_store":{"pass":true,"killed":true,"snap_hook":true,"log_hook":true,"live_pinned":true"""),
      s"cdc_store drill verdict missing/failed: $line")
    // drill 7 (round 14): time travel under vacuum + the
    // rewrite-vs-marker crash window — both sub-drills must have fired
    // and held their contracts
    assert(line.contains(""""vacuum":{"pass":true,"held_lazy_failed":true,"asof_pruned":true,"marker_hook":true,"marker_served_base":true"""),
      s"vacuum drill verdict missing/failed: $line")
    // drill 8: an executor halt inside an IVF index rewrite's stage
    // write — the previous version served until the commit, the
    // committed index equal to a no-failure build
    assert(line.contains(""""ivf_rewrite":{"pass":true,"killed":true,"held_previous":true"""),
      s"ivf_rewrite drill verdict missing/failed: $line")
  }
}
