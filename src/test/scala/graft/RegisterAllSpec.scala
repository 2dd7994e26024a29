package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ScratchDir, Tables, WorkerThreads}

/** `Tables.registerAll` registers the catalog tables on short-lived
  * worker threads ([[graft.engine.WorkerThreads]]). These pin what that
  * must not change: the statistics CBO reads, per-table failure
  * containment on a pooled (not only the calling-thread events) table,
  * and no thread left behind. */
class RegisterAllSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private val catalogTables = Tables.names.filterNot(_ == "events")

  private def stats(s: SparkSession, t: TableIdentifier): Option[CatalogStatistics] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTableMetadata(t).stats

  private def poolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-register-")).toSet

  test("concurrent registration: every table's CatalogStatistics equals a sequential run") {
    // a fresh session is not memoized, so registration really runs
    val pooled = spark.newSession()
    Tables.registerAll(pooled, sf)
    assert(poolThreads.isEmpty, s"pool threads outlived registerAll: $poolThreads")

    // Reference: the sequential per-table DROP/CREATE/ANALYZE, with the
    // try-all-columns-then-table-level fallback, in another fresh
    // session and its own database (sessions share the catalog).
    val ref = spark.newSession()
    ref.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ref.sql("CREATE DATABASE IF NOT EXISTS graft_seq_ref")
    try {
      catalogTables.foreach { t =>
        val q = s"graft_seq_ref.$t"
        ref.sql(s"DROP TABLE IF EXISTS $q")
        ref.sql(s"CREATE TABLE $q USING parquet LOCATION '${Tables.path(sf, t)}'")
        try ref.sql(s"ANALYZE TABLE $q COMPUTE STATISTICS FOR ALL COLUMNS")
        catch { case _: Exception => ref.sql(s"ANALYZE TABLE $q COMPUTE STATISTICS") }
      }
      catalogTables.foreach { t =>
        val got = stats(pooled, TableIdentifier(t))
        val want = stats(ref, TableIdentifier(t, Some("graft_seq_ref")))
        assert(want.exists(_.rowCount.isDefined), t)
        assert(got == want, s"$t stats differ from the sequential run")
      }
      // the schema picks the ANALYZE scope: column stats everywhere but
      // embeddings (ARRAY<FLOAT>)
      catalogTables.foreach { t =>
        val cols = stats(pooled, TableIdentifier(t)).get.colStats
        assert(cols.isEmpty == (t == "embeddings"), s"$t column stats: ${cols.keySet}")
      }
    } finally {
      catalogTables.foreach(t => ref.sql(s"DROP TABLE IF EXISTS graft_seq_ref.$t"))
      ref.sql("DROP DATABASE IF EXISTS graft_seq_ref")
    }
  }

  test("a poisoned catalog table fails only itself, is not memoized, and recovers") {
    val tmp = Files.createTempDirectory("graft-register-poison").toFile
    tmp.deleteOnExit()
    val dir = tmp.getAbsolutePath
    // lineitem, a pooled table (not the calling-thread events view), is
    // garbage bytes
    Tables.names.filterNot(_ == "lineitem").foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.write(Paths.get(s"$dir/lineitem.parquet"), "this is not a parquet file".getBytes)
    // re-points the SHARED session; restored in finally
    try {
      Tables.registerAll(spark, dir)
      assert(poolThreads.isEmpty)
      val j = spark.sql(
        "SELECT count(*) FROM orders o, customer c WHERE o.o_custkey = c.c_custkey")
        .collect()(0).getLong(0)
      assert(j > 0, "orders⋈customer did not survive a broken lineitem table")
      assert(spark.sql("SELECT count(*) FROM events").collect()(0).getLong(0) > 0)
      assert(spark.sql("SELECT count(*) FROM embeddings").collect()(0).getLong(0) > 0)
      val err = intercept[Exception] {
        spark.sql("SELECT count(*) FROM lineitem").collect()
      }
      assert(err.getMessage.toLowerCase.contains("lineitem"), err.getMessage)

      // not memoized: the same call registers lineitem once it is fixed
      Files.copy(Paths.get(s"$sf/lineitem.parquet"), Paths.get(s"$dir/lineitem.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Tables.registerAll(spark, dir)
      val n = spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0)
      assert(n == Tables.load(spark, sf, "lineitem").count())
    } finally Tables.registerAll(spark, sf)
  }

  test("worker threads: per-thread state, and a task's Throwable is rethrown after all exit") {
    val inits = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      WorkerThreads.run("graft-worker-test", 3, 8) {
        inits.add(Thread.currentThread.getName)
        Thread.currentThread.getName
      } { (name, i) =>
        if (name != Thread.currentThread.getName) throw new AssertionError(s"$name state on another thread")
        ran.incrementAndGet()
        if (i == 2) throw new IllegalStateException("task 2")
        Thread.sleep(50)
      }
    }
    assert(err.getMessage == "task 2")
    assert(inits.asScala == Set("graft-worker-test-1", "graft-worker-test-2", "graft-worker-test-3"))
    assert(ran.get < 8, "the hand-out went on after a failure")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-worker-test-")))
  }

  test("scratch dir: per-process, headroom-gated, and only dead pids are removed") {
    val root = Files.createTempDirectory("graft-scratch").toFile
    def mk(name: String) = { val d = new java.io.File(root, name); d.mkdirs(); d }
    val live = mk(s"graft-shuffle-${ProcessHandle.current.pid}")
    val dead = mk("graft-shuffle-99999999") // above Linux's pid_max
    new java.io.File(dead, "blockmgr-x").mkdirs()
    val unowned = Seq(mk("graft-shuffle"), mk("graft-shuffle-x1"), mk("other"))
    assert(ScratchDir.perProcess(root, headroom = Long.MaxValue).isEmpty)
    assert(dead.exists, "the headroom check fails before any cleanup")
    assert(ScratchDir.perProcess(root, headroom = 0L).contains(live.getPath))
    assert(!dead.exists)
    assert(live.exists && unowned.forall(_.exists))
    ScratchDir.perProcess(new java.io.File(root, "missing"), headroom = 0L).foreach(d =>
      fail(s"a missing root resolved to $d"))
    (unowned :+ live :+ root).foreach(_.delete())
  }
}
