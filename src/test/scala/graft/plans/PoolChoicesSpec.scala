package graft.plans

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.engine.Tables
import graft.planopt.Candidates

/** What the learned planner decides on a fixed slice of the r14 pool,
  * one TSV row per query: the first 15 5-way and 15 7-way join queries
  * of `results/r14_pool/train_pool.txt` at sf0.01, served with the
  * model and margin gate of `results/r18_stable_1000/stable_model`,
  * the size bypass off, AQE off and 4 shuffle partitions.
  *
  * Columns: the decision (`routed`/`declined`) and the gate declines
  * the first planning counted; the remembered knob label and
  * join-order variant; the routed choice's candidate and order counts
  * and scores (6 decimals; `-` when nothing routed); SHA-256 of the
  * first (sweep) and the second (choice-cache hit) executed plan's
  * canonical key, with the data directory replaced by `<data>`.
  *
  * A declined query runs the session-native plan: [[rows]] also plans
  * each query with the strategy switched off and fails when a
  * `declined` row's cold or hit hash differs from that native hash,
  * so neither a re-pin nor [[PoolChoicesSpec]] accepts a non-native
  * decline.
  *
  * Regenerate with
  * `sbt "Test/runMain graft.plans.PoolChoices src/test/resources/planchoice/pool_choices.tsv"`
  * only when a change to the planner's choices is intended. */
object PoolChoices {
  val Header = "query\tdecision\tdeclines\tknob\tvariant\tcandidates\torders\tscores\tcold_sha\thit_sha"

  /** sf0.01, beside the sf0.001 tables the rest of the suite uses. */
  val dataDir: String = new File(new File(SparkTestSession.sf).getParentFile, "sf0.01").getPath

  /** Pool lines joining 5 and 7 tables, first 15 of each in file
    * order, as `<n>way_<line index>` -> SQL. */
  def queries: Seq[(String, String)] = {
    val src = scala.io.Source.fromFile("results/r14_pool/train_pool.txt", "UTF-8")
    val lines = try src.getLines().map(_.trim).toVector finally src.close()
    val from = """(?i)\bFROM\s+(.*?)\s+WHERE\b""".r
    val tagged = lines.zipWithIndex.filter(_._1.nonEmpty).distinctBy(_._1).flatMap { case (sql, i) =>
      from.findFirstMatchIn(sql).map(m => (m.group(1).split(",").length, i, sql.stripSuffix(";")))
    }
    Seq(5, 7).flatMap(n => tagged.filter(_._1 == n).take(15).map { case (_, i, sql) => (s"${n}way_$i", sql) })
  }

  private def sha(plan: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): String = {
    val dir = new File(dataDir).getCanonicalPath
    val key = Candidates.canonicalKey(plan).replace(dir, "<data>")
    MessageDigest.getInstance("SHA-256").digest(key.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Plan every query twice in a fresh GraftExtensions session whose
    * tables live in their own database (the shared default database
    * keeps the suite's sf0.001 tables), then once with the strategy
    * switched off, and return the header and rows. */
  def rows(): Seq[String] = SparkTestSession.withExtensionSession { s =>
    try {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_pool_choices")
      s.catalog.setCurrentDatabase("graft_pool_choices")
      Tables.registerAll(s, dataDir)
      PlanChoice.installFrom("results/r18_stable_1000/stable_model")
      val nonNative = scala.collection.mutable.ArrayBuffer[String]()
      val planned = queries.map { case (name, sql) =>
        PlanChoice.lastChoice.set(None)
        val d0 = PlanChoice.gateDeclineCount.get()
        val cold = s.sql(sql).queryExecution
        val coldPlan = cold.executedPlan
        val declines = PlanChoice.gateDeclineCount.get() - d0
        val choice = PlanChoice.lastChoice.get()
        val root = Option(PlanChoice.choiceCache.get(Candidates.canonicalKey(cold.optimizedPlan)))
        val hitPlan = s.sql(sql).queryExecution.executedPlan
        val decision = root.map {
          case PlanChoice.Remembered.Declined => "declined"
          case _: PlanChoice.Remembered.Routed => "routed"
        }
        val routed = root.collect { case r: PlanChoice.Remembered.Routed => r }
        s.conf.set(PlanChoice.EnabledKey, "false")
        val nativeSha = try sha(s.sql(sql).queryExecution.executedPlan)
          finally s.conf.unset(PlanChoice.EnabledKey)
        val (coldSha, hitSha) = (sha(coldPlan), sha(hitPlan))
        if (decision.contains("declined") && (coldSha != nativeSha || hitSha != nativeSha))
          nonNative += name
        Seq(name, decision.getOrElse("-"), declines.toString,
          routed.map(_.knobs.map(_.label).getOrElse("session-default")).getOrElse("-"),
          routed.map(_.variantIdx.toString).getOrElse("-"),
          choice.map(_.nCandidates.toString).getOrElse("-"),
          choice.map(_.nOrders.toString).getOrElse("-"),
          choice.map(_.scores.map("%.6f".formatLocal(Locale.ROOT, _)).mkString(",")).getOrElse("-"),
          coldSha, hitSha).mkString("\t")
      }
      require(nonNative.isEmpty,
        s"declined queries not planned natively: ${nonNative.mkString(", ")}")
      Header +: planned
    } finally {
      PlanChoice.uninstall()
      s.sql("DROP DATABASE IF EXISTS graft_pool_choices CASCADE")
    }
  }

  def main(args: Array[String]): Unit = {
    val out = new File(args(0))
    out.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath,
      rows().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The pinned choices in `planchoice/pool_choices.tsv` reproduce
  * exactly: decisions, candidate sets, scores and executed plans, with
  * every declined query on its native plan. */
class PoolChoicesSpec extends AnyFunSuite {

  test("the learned planner reproduces the pinned pool choices") {
    val src = scala.io.Source.fromResource("planchoice/pool_choices.tsv", getClass.getClassLoader)
    val want = try src.getLines().toVector finally src.close()
    val got = PoolChoices.rows()
    assert(want.headOption.contains(PoolChoices.Header), "pinned file header")
    assert(got.size == want.size, s"${got.size} rows vs ${want.size} pinned")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\ngot:    $g\npinned: $w") }
  }
}
