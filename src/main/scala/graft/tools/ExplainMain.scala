package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.Json

/** Plan-audit dump + MECHANICAL checklist over the whole query surface
  * (r9 verdict #3).
  *
  * Two outputs, one command:
  *  1. `explain("formatted")` full plans for the flagship queries —
  *     the human-readable audit trail (unchanged);
  *  2. a summary table over EVERY `SparkEntry.queries` entry with the
  *     checklist the scale design depends on — scans with pushed
  *     filters, full-width scans, shuffle exchanges, join kinds,
  *     partial/final aggregate split, cartesian products — checked
  *     mechanically against `tools/plan_expectations.json`.
  *
  * Hard violations (exit 1, regardless of pins):
  *  - CartesianProduct anywhere;
  *  - BroadcastNestedLoopJoin outside the declared exact-baseline /
  *    single-probe allowlist below.
  * Everything else is pinned: a change that un-pushes a filter, adds
  * a shuffle, or drops map-side partial aggregation shows up as a
  * diff vs the committed expectations and fails the run. Re-pin with
  * `--pin` after REVIEWING the diff (the pin is the reviewed-good
  * plan shape at sf0.01, the driver's gate scale).
  *
  * Usage: runMain graft.tools.ExplainMain [sfDir] [outFile] [--pin]
  */
object ExplainMain {
  private val Flagships = Seq(
    "j1_join_7way", "j1_join_10way", "j1_join_17rel",
    "q1_group_agg", "q2_join_group_topn", "p1_projection",
    "dd3_minhash_lsh", "sim1_cosine_topk", "dd5_embed_neardup",
    "dd5_blocked_neardup", "dd5_blocked_tau09", "sim3_ann_ivf",
    "sim4_knn_join", "sim5_knn_blocked", "mm3_png_decode",
    "dc1_decontaminate", "dd7_incremental_dedup", "txt5_repetition",
    "emb1_quantize", "emb2_rand_proj",
    "pack1_token_shards", "pipe1_clean_corpus", "pipe2_training_mix",
    "evt4_funnel", "evt5_attribution",
    "txt1_token_stats", "evt1_window_agg", "j2_variant_shuffle_hash",
    "x1_left_outer_join", "x3_anti_join", "x6_salted_skew_join",
    "x7_asof_join", "x8_range_join", "x13_cube", "txt6_ngram_topk",
    "x14_intersect", "x15_except", "x16_scalar_subquery",
    "x17_full_outer_join", "evt6_view_click_join",
    "x18_approx_distinct", "x19_approx_percentile", "x20_union_distinct",
    "sim6_knn_capped", "sim7_knn_engaged", "evt7_retention", "txt7_redact",
    "shuf1_global_shuffle", "txt10_lm_score", "bpe1_pair_counts",
    "io12_bloom_skipping",
    "pr1_pagerank", "clu1_kmeans", "sdd1_semantic_dedup",
    "er1_entity_resolution", "er2_entity_resolution_d2",
    "srch1_bm25", "evt9_anomaly",
    "drf1_source_drift", "g2_copurchase")

  /** Queries where a BroadcastNestedLoopJoin is the DECLARED pattern:
    * the exact O(N²) oracle baselines (corpus side broadcast, ground
    * truth for the banded/capped production paths) and single-probe
    * crosses (one probe row broadcast against the corpus). Everything
    * else planning a BNLJ is a hard failure. */
  private val BnljAllowed: Set[String] = Set(
    "sim1_cosine_topk",   // single-query exact top-k: probe row broadcast
    "sim2_ann_lsh",       // same single-probe cross (cosineToProbe core)
    "sim3_ann_ivf",       // probe row broadcast into the IVF cell join
    "sim4_knn_join",      // exact kNN-join baseline, declared quadratic
    // sim7_knn_engaged deliberately NOT listed: the driver query is
    // the banded equi-join pipeline (pinned bnlj:0); its exact-kNN
    // recall baseline lives only in PipelineSpec, so a BNLJ creeping
    // into the gate plan is a hard violation, not a declared pattern
    "dd5_embed_neardup",  // exact near-dup baseline, declared quadratic
    "cms1_heavy_hitters") // single-row sketch broadcast against the
                          // bounded top-K probe side

  /** Mechanically extracted plan properties; all counts from the
    * FORMATTED explain's per-node detail blocks. The fields, in this
    * order, are a pin's JSON keys. */
  final case class PlanProps(cartesian: Int, bnlj: Int, bhj: Int, smj: Int,
                             shj: Int, exchanges: Int, partialAggs: Int,
                             finalAggs: Int, scans: Int, pushedScans: Int,
                             fullWidthScans: Int)

  /** Count top-level fields of a `struct<...>` simpleString — commas
    * inside nested struct/array/map generics must not split. */
  private[tools] def structFieldCount(readSchema: String): Int = {
    val inner = readSchema.stripPrefix("struct<").stripSuffix(">")
    if (inner.isEmpty) 0
    else {
      var depth = 0; var fields = 1
      inner.foreach {
        case '<' => depth += 1
        case '>' => depth -= 1
        case ',' if depth == 0 => fields += 1
        case _ => ()
      }
      fields
    }
  }

  /** Parse the formatted explain into per-node detail blocks and
    * extract [[PlanProps]]. `tableWidths` maps registered table name →
    * full column count (for the full-width-scan check; path-only scans
    * of intermediate exports are skipped). */
  private[tools] def props(formatted: String,
                           tableWidths: Map[String, Int]): PlanProps = {
    val Header = """^\((\d+)\) (.+)$""".r
    // (nodeName, blockLines) per detail block
    val blocks = scala.collection.mutable.ArrayBuffer[(String, List[String])]()
    var cur: Option[(String, scala.collection.mutable.ListBuffer[String])] = None
    formatted.linesIterator.foreach {
      case Header(_, rest) =>
        cur.foreach { case (n, ls) => blocks += ((n, ls.toList)) }
        cur = Some((rest.trim, scala.collection.mutable.ListBuffer[String]()))
      case line =>
        cur.foreach(_._2 += line)
    }
    cur.foreach { case (n, ls) => blocks += ((n, ls.toList)) }

    var cartesian, bnlj, bhj, smj, shj, exch, aggP, aggF, scans, pushed,
      fullW = 0
    blocks.foreach { case (name, lines) =>
      val head = name.takeWhile(!_.isWhitespace)
      head match {
        case "CartesianProduct" => cartesian += 1
        case "BroadcastNestedLoopJoin" => bnlj += 1
        case "BroadcastHashJoin" => bhj += 1
        case "SortMergeJoin" => smj += 1
        case "ShuffledHashJoin" => shj += 1
        case "Exchange" => exch += 1 // shuffle; BroadcastExchange ≠ "Exchange"
        case "HashAggregate" | "SortAggregate" | "ObjectHashAggregate" =>
          val fns = lines.find(_.trim.startsWith("Functions")).getOrElse("")
          // Partial / PartialMerge modes prefix fns with partial_/merge_;
          // a keyless Functions [0] grouping-only agg counts by its slot
          if (fns.contains("partial_") || fns.contains("merge_")) aggP += 1
          else aggF += 1
        case "Scan" if name.startsWith("Scan parquet") =>
          scans += 1
          val pf = lines.find(_.trim.startsWith("PushedFilters"))
          if (pf.exists(l => !l.replaceAll("\\s", "").endsWith("[]")))
            pushed += 1
          val table = name.split("\\.").lastOption.getOrElse("")
          for {
            width <- tableWidths.get(table)
            rs <- lines.find(_.trim.startsWith("ReadSchema:"))
          } {
            val schemaStr = rs.trim.stripPrefix("ReadSchema:").trim
            if (structFieldCount(schemaStr) >= width) fullW += 1
          }
        case _ => ()
      }
    }
    PlanProps(cartesian, bnlj, bhj, smj, shj, exch, aggP, aggF, scans,
      pushed, fullW)
  }

  private val PinPath = "tools/plan_expectations.json"

  /** The committed pins: query name → its plan properties, parsed. */
  private def readPins(): Map[String, JsonNode] = {
    val f = Paths.get(PinPath)
    if (!Files.exists(f)) Map.empty
    else Json.readFile(f).properties().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** One `"name": {...}` line per query, so a re-pin with no drift is
    * byte-identical and a re-pin diff is one line per changed query. */
  private def writePins(rows: Seq[(String, PlanProps)]): Unit = {
    val body = rows.map { case (n, p) => s"  ${Json.write(n)}: ${Json.write(p)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(PinPath), body)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val pin = args.contains("--pin")
    // ReadSchema/PushedFilters in the formatted explain are clipped
    // at 100 chars by default — the field-count check needs them whole
    val spark = graft.engine.GraftSession.create(
      _.config("spark.sql.maxMetadataStringLength", "100000"))
    graft.engine.Tables.registerAll(spark, sfDir)
    val tableWidths = graft.engine.Tables.names.map { t =>
      t -> graft.engine.Tables.load(spark, sfDir, t).schema.length
    }.toMap

    def formattedOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

    val sb = new StringBuilder
    sb ++= s"# Physical plan audit (`explain formatted`, $sfDir)\n\n"
    sb ++= "Generated by `graft.tools.ExplainMain`. Checklist per plan: pushed\n"
    sb ++= "filters reach the parquet scan, ReadSchema is pruned to used\n"
    sb ++= "columns, bounded dims broadcast, aggregates split partial/final,\n"
    sb ++= "no CartesianProduct on the data path. BroadcastNestedLoopJoin\n"
    sb ++= "appears ONLY as the deliberate broadcast-probe pattern (a\n"
    sb ++= "single-row probe or the bounded corpus side broadcast in the\n"
    sb ++= "declared exact baselines sim1/dd5_embed/sim4/sim7); the\n"
    sb ++= "production paths (dd5_blocked*, sim2/sim3 candidates,\n"
    sb ++= "knnJoinBlocked) are banded equi-joins with no nested loop\n"
    sb ++= "anywhere. Full plans below for the flagship subset; the\n"
    sb ++= "MECHANICAL summary table at the end covers every query and is\n"
    sb ++= s"checked against `$PinPath` (regenerate: `runMain\n"
    sb ++= "graft.tools.ExplainMain`; re-pin after review with `--pin`).\n"

    // ---- full plans for the flagship subset (the human audit trail)
    Flagships.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n${formattedOf(df)}```\n"
    }
    // io8's gate runs its export eagerly, so audit the lazy merge
    // plan directly (the part whose shape matters at 100 TB)
    locally {
      val df = graft.pipeline.CorpusIO.upsertMergePlan(spark, sfDir)
      sb ++= s"\n## io8_upsert_merge (pre-write merge plan)\n\n```\n${formattedOf(df)}```\n"
    }

    // ---- mechanical audit over EVERY query
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // audit each query's STANDALONE plan: a previous query's
        // persisted frame can otherwise be substituted by the cache
        // manager (srch1's tf is plan-identical to txt11's) and shift
        // the audited shape (Verify clears caches the same way)
        spark.catalog.clearCache()
        val p = props(formattedOf(fn(spark, sfDir)), tableWidths)
        if (p.cartesian > 0)
          violations += s"$name: CartesianProduct in plan (${p.cartesian})"
        if (p.bnlj > 0 && !BnljAllowed(name))
          violations += s"$name: BroadcastNestedLoopJoin outside allowlist"
        name -> p
    }

    val pins = readPins()
    if (!pin) rows.foreach { case (name, p) =>
      pins.get(name) match {
        case Some(expected) if expected != Json.mapper.valueToTree[JsonNode](p) =>
          violations += s"$name: plan-shape drift vs $PinPath\n" +
            s"    pinned: ${Json.write(expected)}\n    actual: ${Json.write(p)}"
        case None =>
          violations += s"$name: no pinned expectation in $PinPath " +
            "(new query? run with --pin after reviewing its plan)"
        case _ => ()
      }
    }
    if (pin) writePins(rows)

    sb ++= "\n## Mechanical audit — every query\n\n"
    sb ++= s"Checked against `$PinPath` (sf0.01 shapes). Columns: parquet\n"
    sb ++= "scans / scans with pushed filters / full-width scans (reads every\n"
    sb ++= "column of a registered table — expected only for fingerprint-the-\n"
    sb ++= "whole-corpus gates) / shuffle exchanges / joins by kind / partial\n"
    sb ++= "vs final aggregates / cartesian products.\n\n"
    sb ++= "| query | scans | pushed | fullW | exch | BHJ | SMJ | SHJ | BNLJ | aggP/F | cart |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach { case (n, p) =>
      val bn = if (p.bnlj > 0) s"${p.bnlj}${if (BnljAllowed(n)) " (declared)" else " **VIOLATION**"}" else "0"
      sb ++= s"| $n | ${p.scans} | ${p.pushedScans} | ${p.fullWidthScans} " +
        s"| ${p.exchanges} | ${p.bhj} | ${p.smj} | ${p.shj} | $bn " +
        s"| ${p.partialAggs}/${p.finalAggs} | ${p.cartesian} |\n"
    }

    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${rows.size} queries audited" +
      (if (pin) s"; pinned to $PinPath" else "") + ")")
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(s"[plan-audit] ${violations.size} violation(s):")
      violations.foreach(v => System.err.println(s"  - $v"))
      sys.exit(1)
    }
  }
}
