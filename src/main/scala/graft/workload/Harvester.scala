package graft.workload

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.{ArraySeq, ListMap}

import graft.Json
import graft.engine.Tables

/** Catalog-metadata harvester (SURVEY.md §2.2 M20–M23) — the Spark
  * twin of the reference's psycopg2 introspection
  * (`/root/reference/pg.py:72-162` tables/columns/ranges, `:366-470`
  * filter-column ranges with distinct-or-top-1000 strings,
  * `:235-258` alias maps, `:274-315` join-vs-filter classification).
  *
  * Differences by design:
  *  - `information_schema` round-trips become `df.schema` +
  *    `df.agg(min/max)` / `groupBy.count.orderBy.limit(1000)` — the
  *    exact same queries, pushed to the cluster (each is a scan +
  *    hash-aggregate; nothing collects more than 1000 values per
  *    string column to the driver);
  *  - SQL analysis uses Spark's own parser (`sqlParser.parsePlan`)
  *    instead of regex/sqlparse: conjuncts whose two sides are
  *    attributes of different relations are join conditions,
  *    everything else is a filter (`pg.py:296-298` semantics);
  *  - timestamps are harvested as epoch-second ranges (the reference
  *    migrates timestamp columns to epoch bigints wholesale,
  *    `pg.py:54-66` M29 — we keep the column type and only normalize
  *    in the harvested range).
  */
object Harvester {

  /** Value range of one column: numeric/timestamp → (lo, hi); string
    * → value list (distinct if ≤1000 else top-1000 by frequency). */
  sealed trait ColRange
  final case class NumRange(lo: Double, hi: Double, integral: Boolean) extends ColRange
  final case class TsRange(loEpochSec: Long, hiEpochSec: Long) extends ColRange
  final case class StrValues(values: Seq[String]) extends ColRange

  /** The relational tables the workloads join over (documents/
    * embeddings/events have no join edges in the star schema). */
  val relationalTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** table → single-letter alias, as the reference's alias_map
    * (`infos/stats/alias_map`). */
  val aliasMap: Map[String, String] = Map(
    "region" -> "r", "nation" -> "n", "customer" -> "c", "supplier" -> "s",
    "part" -> "p", "orders" -> "o", "lineitem" -> "l")
  val revAliasMap: Map[String, String] = aliasMap.map(_.swap)

  /** alias → column names (M20 `get_column_names`). */
  def columns(spark: SparkSession, sfDir: String): Map[String, Seq[String]] =
    relationalTables.map { t =>
      aliasMap(t) -> Tables.load(spark, sfDir, t).schema.fieldNames.toSeq
    }.toMap

  /** M20/M23 `get_range_dict` / `get_filter_columns_range`: per alias,
    * per column, the harvested range. One aggregate pass per table
    * for all numeric/timestamp mins+maxs; one distinct/top-1000 scan
    * per string column. */
  def rangeDict(spark: SparkSession, sfDir: String,
                maxStrings: Int = 1000): Map[String, Map[String, ColRange]] =
    relationalTables.map { t =>
      val df = Tables.load(spark, sfDir, t)
      val fields = df.schema.fields
      // single pass for every min/max
      val aggs = fields.flatMap { f =>
        f.dataType match {
          case _: NumericType | _: TimestampType =>
            Seq(min(col(f.name)).as(s"min_${f.name}"),
              max(col(f.name)).as(s"max_${f.name}"))
          case _ => Nil
        }
      }
      val row = if (aggs.nonEmpty) Some(df.agg(aggs.head, ArraySeq.unsafeWrapArray(aggs.tail): _*).head()) else None
      val ranges = fields.flatMap { f =>
        f.dataType match {
          case _: IntegerType | _: LongType | _: ShortType =>
            numRangeOf(row, f.name, integral = true)
          case _: NumericType =>
            numRangeOf(row, f.name, integral = false)
          case _: TimestampType =>
            // an empty/all-NULL column yields null min/max — skip the
            // column (no range to sample filters from) instead of an
            // NPE that aborts the whole harvest
            row.flatMap { r =>
              val lo = r.getAs[java.sql.Timestamp](s"min_${f.name}")
              val hi = r.getAs[java.sql.Timestamp](s"max_${f.name}")
              if (lo == null || hi == null) None
              else Some(f.name -> TsRange(lo.getTime / 1000, hi.getTime / 1000))
            }
          case _: StringType =>
            val nd = df.agg(approx_count_distinct(col(f.name))).head().getLong(0)
            val values =
              if (nd <= maxStrings)
                df.select(col(f.name)).where(col(f.name).isNotNull)
                  .distinct().collect().map(_.getString(0)).sorted.toSeq
              else
                df.where(col(f.name).isNotNull)
                  .groupBy(col(f.name)).count()
                  .orderBy(desc("count"), col(f.name))
                  .limit(maxStrings).collect().map(_.getString(0)).toSeq
            Some(f.name -> StrValues(values))
          case _ => None
        }
      }
      aliasMap(t) -> ranges.toMap
    }.toMap

  private def toD(v: Any): Double = v match {
    case null => 0.0
    case n: Number => n.doubleValue()
    case other => other.toString.toDouble
  }

  /** Numeric range from the batched min/max row; an empty/all-NULL
    * column (null min/max) yields None — recording it as [0, 0] would
    * silently poison generated filter literals with out-of-domain
    * values (same contract as the timestamp branch). */
  private def numRangeOf(row: Option[org.apache.spark.sql.Row],
      name: String, integral: Boolean): Option[(String, ColRange)] =
    row.flatMap { r =>
      val mn = r.getAs[Any](s"min_$name")
      val mx = r.getAs[Any](s"max_$name")
      if (mn == null || mx == null) None
      else Some(name -> NumRange(toD(mn), toD(mx), integral))
    }

  // --- SQL analysis (M21–M23) over Spark's own parser ----------------

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def attrQualifier(e: Expression): Option[(String, String)] = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 2 =>
      Some((a.nameParts.head.toLowerCase, a.nameParts(1).toLowerCase))
    case _ => None
  }

  /** M22 `separate_conditions`: split a query's WHERE conjuncts into
    * (join conditions, filter conditions). A conjunct is a join
    * condition iff it is `attr = attr` across two different
    * relations (`pg.py:296-298`). Returns the conjuncts' SQL forms.
    */
  def separateConditions(spark: SparkSession, sql: String): (Seq[String], Seq[String]) = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    val conjuncts = plan.collect { case f: Filter => splitConjuncts(f.condition) }.flatten
    val (joins, filters) = conjuncts.partition {
      case EqualTo(l, r) =>
        (attrQualifier(l), attrQualifier(r)) match {
          case (Some((ql, _)), Some((qr, _))) => ql != qr
          case _ => false
        }
      case _ => false
    }
    (joins.map(_.sql), filters.map(_.sql))
  }

  /** M23 `get_filter_columns`: per alias, the set of columns used in
    * (non-join) filters across the workload. */
  def filterColumns(spark: SparkSession, sqls: Seq[String]): Map[String, Set[String]] = {
    val acc = scala.collection.mutable.Map[String, Set[String]]().withDefaultValue(Set())
    sqls.foreach { sql =>
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      val conjuncts = plan.collect { case f: Filter => splitConjuncts(f.condition) }.flatten
      conjuncts.foreach {
        case EqualTo(l, r) if attrQualifier(l).isDefined && attrQualifier(r).isDefined &&
          attrQualifier(l).get._1 != attrQualifier(r).get._1 => () // join cond
        case cond =>
          cond.collect { case a: UnresolvedAttribute if a.nameParts.length == 2 => a }
            .foreach { a =>
              val (q, c) = (a.nameParts.head.toLowerCase, a.nameParts(1).toLowerCase)
              acc(q) = acc(q) + c
            }
      }
    }
    acc.toMap
  }

  /** Join conditions (alias.col=alias.col, sides sorted) harvested
    * from a workload — M24's regex harvest, parser-backed. */
  def joinConditions(spark: SparkSession, sqls: Seq[String]): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    sqls.foreach { sql =>
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      val conjuncts = plan.collect { case f: Filter => splitConjuncts(f.condition) }.flatten
      conjuncts.foreach {
        case EqualTo(l, r) =>
          (attrQualifier(l), attrQualifier(r)) match {
            case (Some((ql, cl)), Some((qr, cr))) if ql != qr =>
              val Seq(a, b) = Seq(s"$ql.$cl", s"$qr.$cr").sorted
              out += s"$a=$b"
            case _ => ()
          }
        case _ => ()
      }
    }
    out.toSet
  }

  // --- JSON artifact output (infos/ layout, pg.py:477-511) -----------

  /** A harvested numeric bound as written: an integral value below
    * 1e15 as a whole number, anything else as a double. */
  private def bound(d: Double): Any =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong else d

  private def rangeValue(r: ColRange): Seq[Any] = r match {
    case NumRange(lo, hi, true) => Seq(lo.toLong, hi.toLong)
    case NumRange(lo, hi, false) => Seq(bound(lo), bound(hi))
    case TsRange(lo, hi) => Seq(lo, hi)
    case StrValues(vs) => vs
  }

  /** Write the infos/-layout JSON artifacts (alias_map, rev_alias_map,
    * columns, range_dict, filter_columns) for the testdata schema. */
  def writeInfos(spark: SparkSession, sfDir: String, outDir: String,
                 workload: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    def write(name: String, value: Any): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, name), Json.write(value) + "\n")
    val aliases = relationalTables.map(aliasMap)
    write("alias_map", ListMap.from(relationalTables.zip(aliases)))
    write("rev_alias_map", ListMap.from(aliases.zip(relationalTables)))
    val cols = columns(spark, sfDir)
    write("columns", ListMap.from(aliases.map(a => a -> cols(a))))
    val rd = rangeDict(spark, sfDir)
    write("range_dict", ListMap.from(aliases.map { a =>
      a -> ListMap.from(rd(a).toSeq.sortBy(_._1).map { case (c, r) => c -> rangeValue(r) })
    }))
    val fc = filterColumns(spark, workload)
    write("filter_columns", ListMap.from(aliases.flatMap(a => fc.get(a).map(s => a -> s.toSeq.sorted))))
  }
}
