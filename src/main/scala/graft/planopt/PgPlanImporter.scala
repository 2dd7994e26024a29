package graft.planopt

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.Json

import graft.planopt.PlanFeatures.PlanNode

/** Importer for the reference's committed PostgreSQL EXPLAIN-JSON plan
  * corpus (`Lero/dynamic_data/stats_simplified/train_{0,1}`): parses
  * each `#####`-separated plan into the engine-agnostic [[PlanNode]]
  * IR so the comparator can be trained and scored on the SAME corpus
  * the reference's golden numbers come from (ranking loss 0.6132,
  * `results/log.txt:5`) — making the Spark reimplementation
  * falsifiable against it, not just "same metric on different data".
  *
  * Format (per `Lero/feature.py:6-8,20-25` and
  * `lero_train.py:15-23`): one query per line; candidates separated
  * by `#####`; each candidate is `[{"Plan": <tree>, "Execution Time":
  * <ms>, ...}]`; tree nodes carry `Node Type` / `Plan Rows` /
  * `Plan Width` / optional `Relation Name` / child list `Plans`.
  * Lines may carry a leading `qid` field (`create_training_file
  * .py:4-15` strips it) — tolerated here by skipping non-JSON fields.
  */
object PgPlanImporter {

  /** One EXPLAIN JSON candidate → (plan tree, execution time ms). */
  def parseCandidate(json: String): (PlanNode, Double) = {
    val root0 = Json.read(json)
    val root = if (root0.isArray) root0.get(0) else root0
    val execMs = Option(root.get("Execution Time")).map(_.asDouble())
      .getOrElse(throw new IllegalArgumentException("no Execution Time in plan JSON"))
    val planNode = Option(root.get("Plan")).getOrElse(
      throw new IllegalArgumentException("no Plan key in plan JSON"))
    (toPlanNode(planNode), execMs)
  }

  private def toPlanNode(n: JsonNode): PlanNode = {
    val children: Seq[PlanNode] = Option(n.get("Plans"))
      .map(_.elements().asScala.map(toPlanNode).toSeq).getOrElse(Nil)
    val op = Option(n.get("Node Type")).map(_.asText())
      .getOrElse(PlanFeatures.UnknownOp)
    val rows = Option(n.get("Plan Rows")).map(_.asDouble()).getOrElse(1.0)
    val width = Option(n.get("Plan Width")).map(_.asInt()).getOrElse(0)
    val rel = Option(n.get("Relation Name")).map(_.asText())
    if (children.size <= 2) PlanNode(op, rows, width, rel, children)
    else // binarize multi-way nodes exactly like fromSparkPlan
      children.reduceLeft { (a, b) => PlanNode(op, rows, width, None, Seq(a, b)) }
  }

  /** One corpus line (`#####`-separated candidates, optional leading
    * qid) → labeled query, or None if fewer than one parseable
    * candidate remains. */
  def parseLine(line: String, qid: String): Option[Pipelines.LabeledQuery] = {
    val fields = line.split("#####").toSeq.filter(_.trim.nonEmpty)
    val parsed = fields.flatMap { f =>
      val t = f.trim
      if (t.startsWith("[") || t.startsWith("{"))
        try Some(parseCandidate(t))
        catch { // skip the malformed candidate, keep the rest, say why
          case e: Exception =>
            System.err.println(
              s"[pg-import] $qid: skipping malformed candidate " +
                s"(${e.getMessage}; first 80 chars: ${t.take(80)})")
            None
        }
      else None // leading qid field / SQL text — not a plan
    }
    if (parsed.isEmpty) None
    else Some(Pipelines.LabeledQuery(qid, parsed.map(_._1), parsed.map(_._2)))
  }

  /** Load a whole corpus file (one query per line). */
  def loadCorpus(path: String): Seq[Pipelines.LabeledQuery] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().zipWithIndex.flatMap { case (line, i) =>
      if (line.trim.isEmpty) None else parseLine(line, s"ref$i")
    }.toVector
    finally src.close()
  }
}
