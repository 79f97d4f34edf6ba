package graft

import java.io.File
import java.util.concurrent.TimeUnit
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.sources.Tables

/** [[SessionMemo]]'s lifetime contract: entries are shared by identity,
  * `release` frees exactly one (session, dir), and nothing outlives
  * its SparkContext.
  */
class SessionMemoSpec extends SparkTestBase with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds))

  private def checkpointId(df: DataFrame): Int =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.id
      case p => fail(s"not a checkpointed frame: ${p.nodeName}")
    }

  private def storedRdds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("release frees one (session, dir)'s checkpoints and cache entries") {
    val d = sf0001
    val a = spark.newSession()
    val b = spark.newSession()
    val ra = QueriesEvents.rfmRanked(a, d)
    val rb = QueriesEvents.rfmRanked(b, d)
    assert(QueriesEvents.rfmRanked(a, d) eq ra, "shared by identity")
    assert(checkpointId(ra) != checkpointId(rb))
    // one plan persisted by both sessions: one shared CacheManager entry
    def frame(s: SparkSession) =
      s.range(0, 4321).selectExpr("id", "id * 7 AS v")
    val pa = SessionMemo(a, d, "test.persisted")(frame(a).persist())
    SessionMemo(b, d, "test.persisted")(frame(b).persist())
    assert(pa.count() == 4321L)
    assert(Set(checkpointId(ra), checkpointId(rb)).subsetOf(storedRdds()))
    val namesA = SessionMemo.names(a, d)
    assert(Set("events.rfm_ranked", "events.rfm_users", "table.events",
      "test.persisted").subsetOf(namesA))

    SessionMemo.release(b, d)
    assert(SessionMemo.names(b, d).isEmpty)
    eventually(assert(!storedRdds().contains(checkpointId(rb))))
    assert(storedRdds().contains(checkpointId(ra)))
    assert(SessionMemo.names(a, d) == namesA)
    // a still holds test.persisted, so the shared cache entry stays
    assert(pa.storageLevel != StorageLevel.NONE)

    SessionMemo.release(a, d)
    assert(SessionMemo.names(a, d).isEmpty)
    eventually(assert(!storedRdds().contains(checkpointId(ra))))
    assert(pa.storageLevel == StorageLevel.NONE)
  }

  test("no entry survives its SparkContext (two sessions, child JVM)") {
    // the shared test session must stay up, so the sessions that stop
    // run in a child JVM started from this JVM's classpath and flags
    val javaBin =
      new File(System.getProperty("java.home"), "bin/java").getPath
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a =>
        a.startsWith("-agentlib") || a.startsWith("-Xmx"))
    val err = File.createTempFile("graft_memo_child", ".log")
    err.deleteOnExit()
    val p = new ProcessBuilder((Seq(javaBin) ++ flags ++ Seq("-Xmx1g", "-cp",
        System.getProperty("java.class.path"),
        "graft.SessionMemoLifetimeMain", sf0001)).asJava)
      .redirectError(err).start()
    val out = Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor(600, TimeUnit.SECONDS), "child JVM timed out")
    def log = Source.fromFile(err).getLines().toSeq.takeRight(40)
      .mkString("\n")
    assert(p.exitValue() == 0, s"child failed:\n$out\n$log")
    val runs = out.linesIterator.filter(_.startsWith("[memo]")).toSeq
    assert(runs.size == 2, s"child output:\n$out")
    runs.foreach { line =>
      val Array(built, left) = line.stripPrefix("[memo] ").split(" ")
        .map(_.split("=")(1).toInt)
      assert(built >= 10 && left == 0, line)
    }
  }
}

/** Child JVM of [[SessionMemoSpec]]: twice, starts a session, builds
  * memo entries through Tables, `events.rfm_ranked` and the BPE chain,
  * stops the session, and prints the memo size before and after.
  */
object SessionMemoLifetimeMain {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val caches = SparkEntry.sharedCaches.toMap
    (1 to 2).foreach { _ =>
      val s = SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      Tables.lineitem(s, d)
      caches("events.rfm_ranked")(s, d)
      caches("text.bpe_chain")(s, d)
      val built = SessionMemo.size
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      println(s"[memo] built=$built left=${SessionMemo.size}")
    }
  }
}
