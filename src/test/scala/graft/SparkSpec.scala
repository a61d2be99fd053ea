package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CsvQueries, QueryDef}

/** Shared local session for specs — one per suite, lazily created. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it after the suite. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit)
    finally super.afterAll()

  /** Absolute path of a repo-owned fixture under `frames/`
    * (`src/test/resources` or `src/main/resources`; see FIXTURES.md),
    * resolved from the test classpath. */
  def fixture(name: String): String = {
    val url = getClass.getResource(s"/frames/$name")
    require(url != null, s"no test resource frames/$name on the classpath")
    Paths.get(url.toURI).toString
  }

  /** `path` itself, or cancel the calling test when no such file exists.
    * For inputs the repository does not hold (the reference corpus,
    * FIXTURES.md): without them the test cannot run, so it reports
    * canceled with the missing path rather than failed or passed. */
  def requireFile(path: String): String = {
    if (!Files.exists(Paths.get(path))) cancel(s"input not present: $path")
    path
  }

  /** Runs `body` over the queries whose inputs exist, then cancels the
    * test, naming each query left out and its missing input, if any was
    * (inputs outside the repository: `CsvQueries.externalInputs`). A
    * failure inside `body` still fails the test. */
  def forQueriesWithInputs(queries: Seq[QueryDef])(body: Seq[QueryDef] => Unit): Unit = {
    val (absent, present) = queries.partition(q =>
      CsvQueries.externalInputs.get(q.name).exists(p => !Files.exists(Paths.get(p))))
    body(present)
    if (absent.nonEmpty)
      cancel(absent.map(q => s"${q.name}: input not present: ${CsvQueries.externalInputs(q.name)}")
        .mkString("\n"))
  }

  /** Temporarily set session confs for `body`, restoring previous values. */
  def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (key, _) => key -> spark.conf.getOption(key) }
    pairs.foreach { case (key, v) => spark.conf.set(key, v) }
    try body finally olds.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** The query executions of the driver actions that succeed during
    * `body`, in completion order, read once the listener bus has
    * delivered every event `body` caused. */
  def capturePlans(body: => Unit): Seq[QueryExecution] = {
    val qes = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { qes.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    try body finally {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(qel)
    }
    qes.asScala.toSeq
  }

  /** (driver actions, completed stages) during `body` — the loop-hygiene
    * instrument (see GraphSpec's per-round pins). Driver actions =
    * QueryExecutionListener events — one per blocking Dataset action
    * (collect / count / checkpoint); broadcast-exchange subjobs never
    * fire it, which is the semantic line we're pinning. Stages = EVERY
    * completed stage on any thread (so re-executed shuffles DO count —
    * the signature of an unpersisted loop input). Both buses are
    * async — poll to quiescence before reading. */
  def countWork(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = { actions.incrementAndGet(); () }
    }
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try body finally {
      var prev = -1
      var cur = actions.get + stages.get
      var spins = 0
      while (prev != cur && spins < 50) {
        Thread.sleep(100); prev = cur; cur = actions.get + stages.get; spins += 1
      }
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(listener)
    }
    (actions.get, stages.get)
  }
}

object SparkSpec {
  /** Four cores on any host, so partition-sensitive plans and counts
    * the suites pin do not move with the machine. */
  lazy val session: SparkSession = Session.local(cores = 4)
}
