package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executor-loss drill for [[graft.operators.Checkpoint.reliable]] — the
  * end-to-end proof behind the 100 TB story: a multi-hour PageRank over a
  * 1000-executor cluster WILL lose executors, and the durable checkpoint
  * path must carry the iteration through that loss with bit-identical
  * results, not just write files (GraphSpec pins the files; this pins the
  * recovery).
  *
  * Runs as its OWN main (one SparkContext per JVM — the suites' shared
  * local[*] session can't coexist with this one) on a real two-executor
  * `local-cluster[2,1,1536]`: separate executor JVMs, real RPC, real
  * block/shuffle loss when one dies.
  *
  * Protocol:
  *   1. baseline ranks on the healthy cluster (default local checkpointer);
  *   2. chaos run with `Checkpoint.reliable` wrapped to HALT one executor
  *      JVM (`Runtime.halt` from inside a task — no shutdown hooks, the
  *      closest local stand-in for a machine loss) right after round 2's
  *      durable cut;
  *   3. the remaining rounds must complete on the degraded-then-restored
  *      cluster and the final ranks must equal the baseline exactly
  *      (pagerankQuantized is exact integer arithmetic — any divergence
  *      means recovery replayed state wrong).
  *
  * Drills 3–5 extend the same discipline to the STREAMING INGEST paths,
  * one per persisted-index family: an executor JVM halts during the
  * step's classification write and the recovered step must leave
  * classifications + persisted index bit-identical to a no-failure run.
  * Drill 3 (round 11) covers `dedupIngestStep` (MinHash document index);
  * drills 4 and 5 (round 12) cover `ivfIngestStep` (embedding index)
  * and `spanIngestStep` (substring window index) — previously proven
  * only by spec-level replay simulation.
  *
  * Prints ONE JSON line {"pass":…} and exits 0 (pass), 1 (mismatch), or
  * 2 (cluster never came up — environment, not code). Driven by
  * ExecutorLossSpec via a forked JVM.
  */
object ChaosCheck {
  def main(args: Array[String]): Unit = {
    // every directory of the run lives under one root, deleted at the end
    val root = java.nio.file.Files.createTempDirectory("graft-chaos")
    def tempDir(prefix: String): java.nio.file.Path =
      java.nio.file.Files.createTempDirectory(root, prefix)
    val ckpt = tempDir("ckpt")
    val warehouse = tempDir("wh")
    // executor JVMs need the same JDK17 module opens the driver gets from
    // build.sbt; they inherit this JVM's classpath via the worker's
    // command builder, but javaOptions do NOT propagate
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val spark = SparkSession.builder()
      .master("local-cluster[2,1,1536]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.extraJavaOptions", addOpens)
      // drills 1/2 are pure-DataFrame plans (no user class ever reaches
      // an executor), but drill 3 ships a typed .map lambda + graft
      // expression kernels — the executor JVMs need the app classpath
      // or lambda deserialization dies with SerializedLambda CCE
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    def cleanUp(): Unit = {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
    }
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setCheckpointDir(ckpt.toString)
    // wait for both executors (driver also lists itself)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (sc.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < deadline) Thread.sleep(500)
    if (sc.statusTracker.getExecutorInfos.length < 3) {
      println("""{"pass":false,"reason":"cluster never reached 2 executors"}""")
      cleanUp()
      sys.exit(2)
    }
    val passed = try {
      // deterministic, fully recomputable edge list (no cached source to
      // lose): 300 nodes, two arithmetic out-edges each + a hub
      val edges = spark.range(0L, 300L).toDF("src")
        .select(col("src"), explode(array(
          (col("src") * 7 + 1) % 300,
          (col("src") * 13 + 5) % 300,
          lit(0L))).as("dst"))
        .filter(col("src") =!= col("dst"))

      def collectRanks(ckp: graft.operators.Checkpoint) =
        graft.operators.Graph
          .pagerankQuantized(edges, "src", "dst", iters = 4, checkpointer = ckp)
          .orderBy(col("node"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSeq

      val base = collectRanks(graft.operators.Checkpoint.local)

      // halt whichever executor runs partition 0 (first attempt only —
      // the retried task must not cascade)
      def killOneExecutor(): Unit =
        try sc.parallelize(0 until 2, 2).foreach { i =>
          if (i == 0 && org.apache.spark.TaskContext.get().attemptNumber() == 0)
            Runtime.getRuntime.halt(99)
        } catch { case _: org.apache.spark.SparkException => () }

      // chaos checkpointer: durable cut every invocation; right after
      // the `killAt`-th cut, hard-halt one executor JVM
      def chaosCheckpoint(killAt: Int): (graft.operators.Checkpoint, () => (Int, Boolean)) = {
        var rounds = 0
        var killed = false
        val ckp = graft.operators.Checkpoint { (df, eager) =>
          val cut = df.checkpoint(eager)
          rounds += 1
          if (rounds == killAt && !killed) { killed = true; killOneExecutor() }
          cut
        }
        (ckp, () => (rounds, killed))
      }

      val (prCkp, prState) = chaosCheckpoint(killAt = 2)
      val got = collectRanks(prCkp)
      val (prRounds, prKilled) = prState()
      val prPass = got == base && prKilled && prRounds == 4

      // drill 2: connectedComponents — lazy cuts every 5th HashMin
      // round; the kill fires at the FIRST cut (round 5 of ~17 on the
      // 18-chain), so most of the fixpoint runs on the recovered
      // cluster. Exactness bar: bit-identical (id, comp) labels.
      val chain = spark.range(0L, 17L).toDF("id_a")
        .select(col("id_a"), (col("id_a") + 1).as("id_b"))
        .union(spark.range(100L, 104L).toDF("id_a")
          .select(col("id_a"), (col("id_a") + 100).as("id_b")))
      def collectComps(ckp: graft.operators.Checkpoint) =
        graft.operators.Dedup
          .connectedComponents(chain, "id_a", "id_b", maxIter = 25,
            checkpointer = ckp)
          .orderBy(col("id"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSeq
      val ccBase = collectComps(graft.operators.Checkpoint.local)
      val (ccCkp, ccState) = chaosCheckpoint(killAt = 1)
      val ccGot = collectComps(ccCkp)
      val (ccRounds, ccKilled) = ccState()
      val ccPass = ccGot == ccBase && ccKilled && ccRounds >= 2

      // drill 3: STREAMING INGEST — an executor JVM dies DURING a
      // dedupIngestStep (the classification write is the first action
      // that touches the batch, so the halt lands inside that job) and
      // the retried tasks + marker-fenced step must leave BOTH the
      // classifications and the persisted index identical to a
      // no-failure run over the same data. This is the recovery the
      // spec-level replay simulation (StreamingSpec) models; here the
      // loss is a real JVM halt on a real two-executor cluster.
      import spark.implicits._
      def newKillFile(): String = tempDir("ingest").resolve("killed").toString
      val killFile = newKillFile()
      // one halt total PER DRILL, wherever the first task to see no
      // marker runs: createFile is the atomic claim; the loser of the
      // race (or any retry) sees the file and passes through
      def chaosTextBatch(kf: String, rows: Seq[(Long, String)])
          : org.apache.spark.sql.DataFrame =
        spark.createDataset(rows).repartition(2)
          .map { case (id, text) =>
            val p = java.nio.file.Paths.get(kf)
            if (!java.nio.file.Files.exists(p)) {
              try {
                java.nio.file.Files.createFile(p)
                Runtime.getRuntime.halt(99)
              } catch {
                case _: java.nio.file.FileAlreadyExistsException => ()
              }
            }
            (id, text)
          }.toDF("doc_id", "text")
      def chaosBatch(rows: Seq[(Long, String)]): org.apache.spark.sql.DataFrame =
        chaosTextBatch(killFile, rows)
      val seedDocs = Seq(
        (1L, "seed document about rivers and stone bridges"),
        (2L, "seed document describing mountain weather patterns"))
      val batch0 = Seq(
        (100L, "brand new content alpha beta gamma"),
        (101L, "seed document about rivers and stone bridges"))
      val batch1 = Seq(
        (200L, "brand new content alpha beta gamma"), // copy of NOVEL 100
        (201L, "entirely different follow-up material"))
      def runIngest(table: String, target: String,
          mkBatch1: Seq[(Long, String)] => org.apache.spark.sql.DataFrame)
          : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
        graft.operators.Dedup.writeDedupIndex(
          seedDocs.toDF("doc_id", "text"), "doc_id", "text", table,
          numBuckets = 2)
        graft.streaming.EventStreams.dedupIngestStep(
          table, batch0.toDF("doc_id", "text"), 0L, "doc_id", "text",
          target, numBuckets = 2, shingleSize = 3, numHashes = 64,
          bands = 16, seed = 42L, tau = 0.4)
        graft.streaming.EventStreams.dedupIngestStep(
          table, mkBatch1(batch1), 1L, "doc_id", "text",
          target, numBuckets = 2, shingleSize = 3, numHashes = 64,
          bands = 16, seed = 42L, tau = 0.4)
        val classed = graft.streaming.EventStreams
          .committedBatches(spark, target)
          .collect().map(_.toSeq.map(v => v: Any)).toSeq
          .sortBy(_.mkString("|"))
        val index = spark.table(s"${table}_exact")
          .collect().map(_.toSeq.map(v => v: Any)).toSeq
          .sortBy(_.mkString("|"))
        (classed, index)
      }
      val chaosTgt = tempDir("ded").toString
      val refTgt = tempDir("dedref").toString
      val (chaosClass, chaosIdx) = runIngest("chaos_ded", chaosTgt, chaosBatch)
      val ingKilled = java.nio.file.Files
        .exists(java.nio.file.Paths.get(killFile))
      val (refClass, refIdx) =
        runIngest("chaos_ref", refTgt, rows => rows.toDF("doc_id", "text"))
      val ingPass = ingKilled && chaosClass == refClass &&
        chaosIdx == refIdx && chaosClass.nonEmpty && chaosIdx.nonEmpty

      // drill 4: IVF INGEST — the embedding-index family under the same
      // kill-during-classification protocol. Two fixed centroids split
      // the plane; batch 0 carries one near-dup of a seed vector and one
      // novel direction, batch 1 a near-copy of batch 0's NOVEL vector
      // (so a lost append would misclassify it) plus a fresh direction.
      // nProbe = 2 probes every cell — classification differences can
      // only come from recovery, never probe pruning.
      def collectAll(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq.map(v => v: Any)).toSeq.sortBy(_.mkString("|"))
      val ivfKillFile = newKillFile()
      def chaosVecBatch(rows: Seq[(Long, Seq[Double])])
          : org.apache.spark.sql.DataFrame =
        spark.createDataset(rows).repartition(2)
          .map { case (id, v) =>
            val p = java.nio.file.Paths.get(ivfKillFile)
            if (!java.nio.file.Files.exists(p)) {
              try {
                java.nio.file.Files.createFile(p)
                Runtime.getRuntime.halt(99)
              } catch {
                case _: java.nio.file.FileAlreadyExistsException => ()
              }
            }
            (id, v)
          }.toDF("vec_id", "vec")
      val centroids = Array((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      val vecSeed = Seq((1L, Seq(1.0, 0.05)), (2L, Seq(0.05, 1.0)))
      val vecBatch0 = Seq((100L, Seq(0.9, 0.1)), (101L, Seq(0.5, 0.5)))
      val vecBatch1 = Seq((200L, Seq(0.51, 0.52)), (201L, Seq(-1.0, 0.3)))
      def runIvfIngest(table: String, target: String,
          mkBatch1: Seq[(Long, Seq[Double])] => org.apache.spark.sql.DataFrame)
          : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
        graft.operators.Similarity.writeIvfIndex(
          vecSeed.toDF("vec_id", "vec"), "vec_id", "vec", centroids, table,
          numBuckets = 2)
        graft.streaming.EventStreams.ivfIngestStep(
          table, vecBatch0.toDF("vec_id", "vec"), 0L, "vec_id", "vec",
          centroids, nProbe = 2, tau = 0.9, target, numBuckets = 2)
        graft.streaming.EventStreams.ivfIngestStep(
          table, mkBatch1(vecBatch1), 1L, "vec_id", "vec",
          centroids, nProbe = 2, tau = 0.9, target, numBuckets = 2)
        (collectAll(graft.streaming.EventStreams.committedBatches(spark, target)),
          collectAll(spark.table(table)))
      }
      val ivfChaosTgt = tempDir("ivf").toString
      val ivfRefTgt = tempDir("ivfref").toString
      val (ivfChaosClass, ivfChaosIdx) =
        runIvfIngest("chaos_ivf", ivfChaosTgt, chaosVecBatch)
      val ivfKilled = java.nio.file.Files
        .exists(java.nio.file.Paths.get(ivfKillFile))
      val (ivfRefClass, ivfRefIdx) =
        runIvfIngest("chaos_ivfref", ivfRefTgt, rows => rows.toDF("vec_id", "vec"))
      val ivfPass = ivfKilled && ivfChaosClass == ivfRefClass &&
        ivfChaosIdx == ivfRefIdx && ivfChaosClass.nonEmpty && ivfChaosIdx.nonEmpty

      // drill 5: SPAN INGEST — the substring window index under the same
      // protocol. Batch 0 carries one doc quoting a seed passage and one
      // with novel text; batch 1 re-quotes batch 0's NOVEL passage (a
      // lost append would report it fresh) plus new closing material.
      val spanKillFile = newKillFile()
      val spanSeed = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six seven"))
      val spanBatch0 = Seq(
        (100L, "fresh novel words never seen before anywhere"),
        (101L, "prefix alpha beta gamma delta suffix"))
      val spanBatch1 = Seq(
        (200L, "fresh novel words never seen before today"),
        (201L, "totally different closing material here now"))
      def runSpanIngest(table: String, target: String,
          mkBatch1: Seq[(Long, String)] => org.apache.spark.sql.DataFrame)
          : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
        graft.operators.Dedup.writeSpanIndex(
          spanSeed.toDF("doc_id", "text"), "doc_id", "text", table,
          windowTokens = 3, numBuckets = 2)
        graft.streaming.EventStreams.spanIngestStep(
          table, spanBatch0.toDF("doc_id", "text"), 0L, "doc_id", "text",
          target, windowTokens = 3, numBuckets = 2)
        graft.streaming.EventStreams.spanIngestStep(
          table, mkBatch1(spanBatch1), 1L, "doc_id", "text",
          target, windowTokens = 3, numBuckets = 2)
        (collectAll(graft.streaming.EventStreams.committedBatches(spark, target)),
          collectAll(spark.table(s"${table}_spans")))
      }
      val spanChaosTgt = tempDir("span").toString
      val spanRefTgt = tempDir("spanref").toString
      val (spanChaosClass, spanChaosIdx) = runSpanIngest(
        "chaos_span", spanChaosTgt, rows => chaosTextBatch(spanKillFile, rows))
      val spanKilled = java.nio.file.Files
        .exists(java.nio.file.Paths.get(spanKillFile))
      val (spanRefClass, spanRefIdx) =
        runSpanIngest("chaos_spanref", spanRefTgt, rows => rows.toDF("doc_id", "text"))
      val spanPass = spanKilled && spanChaosClass == spanRefClass &&
        spanChaosIdx == spanRefIdx && spanChaosClass.nonEmpty && spanChaosIdx.nonEmpty

      // drill 6: CDC UPSERT/COMPACTION STORE — the exactly-once snapshot
      // store under BOTH of its crash windows. (a) an executor JVM
      // halts mid-`upsertStep` while batch 1's merged version is being
      // written: the retried tasks must commit v_1, and the
      // checkpoint-style REPLAY of the same batch must rewrite it
      // idempotently. (b) the driver "dies" between a compaction's
      // commit point and its cleanup deletes (the onBeforeCleanup hook
      // throws): `currentSnapshot`/`snapshotAsOf` must read a
      // consistent view from the half-compacted store, and a re-run
      // must converge to the no-failure state. The same marker-write/
      // delete window is then drilled on the append-only b_ log, with
      // `committedBatches` (this round's contention-hardened reader) as
      // the consistency witness.
      import org.apache.spark.sql.DataFrame
      val upsKillFile = newKillFile()
      def chaosCdcBatch(rows: Seq[(Long, Long, String, String)]): DataFrame =
        spark.createDataset(rows).repartition(2)
          .map { case r @ (_, _, _, _) =>
            val p = java.nio.file.Paths.get(upsKillFile)
            if (!java.nio.file.Files.exists(p)) {
              try {
                java.nio.file.Files.createFile(p)
                Runtime.getRuntime.halt(99)
              } catch {
                case _: java.nio.file.FileAlreadyExistsException => ()
              }
            }
            r
          }.toDF("id", "seq", "value", "op")
      def cdcDf(rows: Seq[(Long, Long, String, String)]): DataFrame =
        rows.toDF("id", "seq", "value", "op")
      val cdc0 = Seq((1L, 0L, "a", "u"), (2L, 0L, "b", "u"), (3L, 0L, "c", "u"))
      val cdc1 = Seq((2L, 1L, "b2", "u"), (3L, 1L, "", "d"), (4L, 1L, "d", "u"))
      val cdc2 = Seq((4L, 2L, "d2", "u"), (5L, 2L, "e", "u"))
      val isDel = col("op") === "d"
      def liveOf(df: DataFrame): Seq[Seq[Any]] = collectAll(df.filter(!isDel))
      def runUpsertStore(target: String,
          mkBatch1: Seq[(Long, Long, String, String)] => DataFrame)
          : (Seq[Seq[Any]], Option[Seq[Seq[Any]]]) = {
        def step(b: DataFrame, id: Long) = graft.streaming.EventStreams
          .upsertStep(b, id, target, Seq("id"), Seq("seq"), isDel)
        step(cdcDf(cdc0), 0L)
        step(mkBatch1(cdc1), 1L)
        step(cdcDf(cdc1), 1L) // checkpoint replay of the same batch
        step(cdcDf(cdc2), 2L)
        val live = liveOf(spark.read.parquet(
          graft.streaming.EventStreams.currentSnapshot(spark, target).get))
        val asOf1 = graft.streaming.EventStreams
          .snapshotAsOf(spark, target, 1L).map(liveOf)
        (live, asOf1)
      }
      val upsChaosTgt = tempDir("ups").toString
      val upsRefTgt = tempDir("upsref").toString
      val (upsChaosLive, upsChaosAsOf1) = runUpsertStore(upsChaosTgt, chaosCdcBatch)
      val upsKilled = java.nio.file.Files
        .exists(java.nio.file.Paths.get(upsKillFile))
      val (upsRefLive, upsRefAsOf1) = runUpsertStore(upsRefTgt, cdcDf)
      // (b) compaction crash window on the chaos store, clean run on ref
      val tombHorizon = col("seq") >= 2L
      var snapHookFired = false
      val snapCrash = new RuntimeException("simulated driver death mid-compaction")
      try graft.streaming.EventStreams.compactSnapshots(
        spark, upsChaosTgt, isDel, tombHorizon,
        () => { snapHookFired = true; throw snapCrash })
      catch { case e: RuntimeException if e eq snapCrash => () }
      // half-compacted: the compacted rewrite is committed, superseded
      // versions still present — readers must stay consistent
      val midLive = liveOf(spark.read.parquet(
        graft.streaming.EventStreams.currentSnapshot(spark, upsChaosTgt).get))
      val midAsOf1 = graft.streaming.EventStreams
        .snapshotAsOf(spark, upsChaosTgt, 1L).map(liveOf)
      // restarted compaction converges; reference compacts once cleanly
      graft.streaming.EventStreams.compactSnapshots(
        spark, upsChaosTgt, isDel, tombHorizon)
      graft.streaming.EventStreams.compactSnapshots(
        spark, upsRefTgt, isDel, tombHorizon)
      def storeState(target: String): (Seq[Seq[Any]], Seq[String], Option[Seq[Seq[Any]]]) = {
        val vs = graft.streaming.EventStreams.snapshotVersions(spark, target)
        (collectAll(spark.read.parquet(
          graft.streaming.EventStreams.currentSnapshot(spark, target).get)),
          vs.map(p => new org.apache.hadoop.fs.Path(p).getName
            .split("_c").head), // base version; compaction generation differs by design after a crash re-run
          graft.streaming.EventStreams.snapshotAsOf(spark, target, 1L).map(liveOf))
      }
      val (chaosAll, chaosBases, chaosAsOf1Post) = storeState(upsChaosTgt)
      val (refAll, refBases, refAsOf1Post) = storeState(upsRefTgt)
      // GROUND-TRUTH PIN (r13 ADVICE): the chaos==ref equalities alone
      // would also pass if a deterministic replay/merge bug corrupted
      // BOTH stores identically — pin the literal expected live sets,
      // computed by hand from cdc0/1/2 under newest-wins-by-seq:
      // id 1 keeps "a" (seq 0), id 2 upgraded to "b2" (seq 1), id 3
      // TOMBSTONED (absent from every live view), id 4 "d"@1 then
      // "d2"@2, id 5 "e"@2. collectAll sorts rows by mkString("|").
      val expectedLive = Seq(
        Seq[Any](1L, 0L, "a", "u"), Seq[Any](2L, 1L, "b2", "u"),
        Seq[Any](4L, 2L, "d2", "u"), Seq[Any](5L, 2L, "e", "u"))
      val expectedAsOf1 = Seq(
        Seq[Any](1L, 0L, "a", "u"), Seq[Any](2L, 1L, "b2", "u"),
        Seq[Any](4L, 1L, "d", "u"))
      val livePinned = upsChaosLive == expectedLive &&
        upsChaosAsOf1.contains(expectedAsOf1)
      val upsPass = upsKilled && snapHookFired && livePinned &&
        upsChaosLive == upsRefLive && upsChaosAsOf1 == upsRefAsOf1 &&
        midLive == upsRefLive && midAsOf1 == upsRefAsOf1 &&
        chaosAll == refAll && chaosBases == refBases &&
        chaosAsOf1Post == refAsOf1Post && chaosAsOf1Post.isEmpty &&
        upsChaosLive.nonEmpty && chaosAll.nonEmpty
      // (c) the append-only b_ log's marker/delete crash window
      def runBatchLog(target: String, crashFirst: Boolean): (Boolean, Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]], Seq[String]) = {
        def writeB(id: Long, rows: Seq[(Long, String)]): Unit =
          rows.toDF("k", "v").write.mode("overwrite")
            .parquet(f"$target/b_$id%012d")
        writeB(0L, Seq((1L, "a"), (2L, "b")))
        writeB(1L, Seq((3L, "c")))
        writeB(2L, Seq((4L, "d"), (5L, "e")))
        writeB(3L, Seq((6L, "f")))
        val before = collectAll(
          graft.streaming.EventStreams.committedBatches(spark, target))
        var hookFired = false
        val crash = new RuntimeException("simulated driver death mid-compactBatches")
        if (crashFirst) {
          try graft.streaming.EventStreams.compactBatches(spark, target,
            () => { hookFired = true; throw crash })
          catch { case e: RuntimeException if e eq crash => () }
        } else {
          graft.streaming.EventStreams.compactBatches(spark, target): Unit
          hookFired = true
        }
        // crash window (or post-compaction) read: the reader must serve
        // the SAME relation it served before the compaction
        val mid = collectAll(
          graft.streaming.EventStreams.committedBatches(spark, target))
        // next cycle: one more batch, then a clean compaction sweeps
        // whatever the crash left behind
        writeB(4L, Seq((7L, "g")))
        graft.streaming.EventStreams.compactBatches(spark, target): Unit
        val after = collectAll(
          graft.streaming.EventStreams.committedBatches(spark, target))
        val root = new org.apache.hadoop.fs.Path(target)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val names = fs.listStatus(root).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith("b_") || n.startsWith("c_") || n.startsWith("m_"))
          .sorted
        (hookFired, before, mid, after, names)
      }
      val logChaosTgt = tempDir("blog").toString
      val logRefTgt = tempDir("blogref").toString
      val (logHook, logBefore, logMid, logAfter, logNames) =
        runBatchLog(logChaosTgt, crashFirst = true)
      val (_, refBefore, refMid, refAfter, refNames) =
        runBatchLog(logRefTgt, crashFirst = false)
      val logPass = logHook && logMid == logBefore &&
        logBefore == refBefore && logMid == refMid && logAfter == refAfter &&
        logNames == refNames && logAfter.nonEmpty

      val cdcPass = upsPass && logPass

      // drill 7 (round 14): TIME TRAVEL UNDER VACUUM + the
      // rewrite-vs-marker crash window — the two snapshot-store races
      // drill 6 left untested. (a) a reader HOLDING a lazy
      // `snapshotAsOf(0)` plan while `retainSnapshots` vacuums v_0
      // away: a reader that materialized BEFORE the vacuum keeps its
      // rows; the still-lazy plan must FAIL (file listing resolved at
      // read time, files gone) rather than silently serve partial or
      // wrong data; post-vacuum `snapshotAsOf(0)` must be None
      // (history destroyed below the horizon — the documented vacuum
      // contract) while the current view is untouched. (b) a "crash"
      // BETWEEN a compactor's rewrite and the marker that makes it
      // current: fabricated exactly by deleting the fresh `_c` dir's
      // `_SUCCESS` inside onBeforeCleanup and then aborting — readers
      // must keep serving the base version (the marker IS the commit),
      // and a re-run must overwrite the partial dir and converge to
      // the clean-run state.
      def buildVacStore(): String = {
        val t = tempDir("vac").toString
        def step(b: DataFrame, id: Long) = graft.streaming.EventStreams
          .upsertStep(b, id, t, Seq("id"), Seq("seq"), isDel)
        step(cdcDf(cdc0), 0L); step(cdcDf(cdc1), 1L); step(cdcDf(cdc2), 2L)
        t
      }
      val vacTgt = buildVacStore()
      val expectedAsOf0 = Seq(
        Seq[Any](1L, 0L, "a", "u"), Seq[Any](2L, 0L, "b", "u"),
        Seq[Any](3L, 0L, "c", "u"))
      // materialized before the vacuum: rows survive the delete
      val pinnedRows = graft.streaming.EventStreams
        .snapshotAsOf(spark, vacTgt, 0L).map(liveOf)
      // still-lazy plan held ACROSS the vacuum (file index already
      // resolved, data about to vanish under it)
      val heldLazy = graft.streaming.EventStreams
        .snapshotAsOf(spark, vacTgt, 0L).get.filter(!isDel)
      graft.streaming.EventStreams.retainSnapshots(spark, vacTgt, keepLast = 1)
      val heldLazyFailed =
        try { heldLazy.collect(); false }
        catch { case _: Throwable => true }
      val asOf0Vacuumed = graft.streaming.EventStreams
        .snapshotAsOf(spark, vacTgt, 0L)
      val asOf2Post = graft.streaming.EventStreams
        .snapshotAsOf(spark, vacTgt, 2L).map(liveOf)
      val curPostVac = liveOf(spark.read.parquet(
        graft.streaming.EventStreams.currentSnapshot(spark, vacTgt).get))
      // (b) rewrite committed, marker lost, cleanup never ran
      val hadoopFs = new org.apache.hadoop.fs.Path(vacTgt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      var markerHookFired = false
      val markerCrash = new RuntimeException(
        "simulated crash between compactor rewrite and its marker")
      try graft.streaming.EventStreams.compactSnapshots(
        spark, vacTgt, isDel, tombHorizon,
        () => {
          markerHookFired = true
          // the ONLY _c dir at this point is the rewrite that just
          // committed (the vacuum left a single base version);
          // removing its _SUCCESS recreates the mid-commit crash state
          val cDirs = hadoopFs.listStatus(
              new org.apache.hadoop.fs.Path(vacTgt)).toSeq
            .map(_.getPath).filter(_.getName.contains("_c"))
          require(cDirs.size == 1, s"expected one rewrite dir, got $cDirs")
          hadoopFs.delete(
            new org.apache.hadoop.fs.Path(cDirs.head, "_SUCCESS"), false)
          throw markerCrash
        })
      catch { case e: RuntimeException if e eq markerCrash => () }
      // uncommitted rewrite must be invisible: base version still serves
      val curMidMarker = graft.streaming.EventStreams
        .currentSnapshot(spark, vacTgt).get
      val midMarkerIsBase =
        new org.apache.hadoop.fs.Path(curMidMarker).getName == "v_%012d".format(2L)
      val midMarkerLive = liveOf(spark.read.parquet(curMidMarker))
      // re-run converges: overwrites the partial dir, then cleans up
      graft.streaming.EventStreams.compactSnapshots(
        spark, vacTgt, isDel, tombHorizon)
      // reference: same batches, clean vacuum + clean compaction
      val vacRefTgt = buildVacStore()
      graft.streaming.EventStreams.retainSnapshots(spark, vacRefTgt, keepLast = 1)
      graft.streaming.EventStreams.compactSnapshots(
        spark, vacRefTgt, isDel, tombHorizon)
      def vacState(t: String): (Seq[Seq[Any]], Seq[String]) = {
        val vs = graft.streaming.EventStreams.snapshotVersions(spark, t)
        (collectAll(spark.read.parquet(
          graft.streaming.EventStreams.currentSnapshot(spark, t).get)),
          vs.map(p => new org.apache.hadoop.fs.Path(p).getName))
      }
      val (vacChaosAll, vacChaosNames) = vacState(vacTgt)
      val (vacRefAll, vacRefNames) = vacState(vacRefTgt)
      val vacPass = pinnedRows.contains(expectedAsOf0) && heldLazyFailed &&
        asOf0Vacuumed.isEmpty && asOf2Post.contains(expectedLive) &&
        curPostVac == expectedLive && markerHookFired && midMarkerIsBase &&
        midMarkerLive == expectedLive && vacChaosAll == vacRefAll &&
        vacChaosNames == vacRefNames && vacChaosAll.nonEmpty

      val pass =
        prPass && ccPass && ingPass && ivfPass && spanPass && cdcPass && vacPass
      println(s"""{"pass":$pass,"pagerank":{"pass":$prPass,"rounds":$prRounds,"killed":$prKilled,"nodes":${base.size}},"cc":{"pass":$ccPass,"cuts":$ccRounds,"killed":$ccKilled,"nodes":${ccBase.size}},"ingest":{"pass":$ingPass,"killed":$ingKilled,"classified":${chaosClass.size},"index_rows":${chaosIdx.size}},"ivf_ingest":{"pass":$ivfPass,"killed":$ivfKilled,"classified":${ivfChaosClass.size},"index_rows":${ivfChaosIdx.size}},"span_ingest":{"pass":$spanPass,"killed":$spanKilled,"classified":${spanChaosClass.size},"index_rows":${spanChaosIdx.size}},"cdc_store":{"pass":$cdcPass,"killed":$upsKilled,"snap_hook":$snapHookFired,"log_hook":$logHook,"live_pinned":$livePinned,"upsert_pass":$upsPass,"batchlog_pass":$logPass,"live_rows":${upsChaosLive.size},"log_rows":${logAfter.size}},"vacuum":{"pass":$vacPass,"held_lazy_failed":$heldLazyFailed,"asof_pruned":${asOf0Vacuumed.isEmpty},"marker_hook":$markerHookFired,"marker_served_base":$midMarkerIsBase}}""")
      pass
    } finally cleanUp()
    if (!passed) sys.exit(1)
  }
}
