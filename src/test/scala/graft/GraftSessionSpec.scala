package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftExtensions, GraftSession, Tables}

/** One session factory and one function catalog: every way a session
  * gets graft's functions resolves the whole library, a factory
  * session carries the shared settings, and `src/main` keeps a single
  * builder site and a single registration site. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Spelled out rather than read from the catalog, so a function
    * missing from it fails here. */
  private val graftFunctions = Seq("graft_cosine", "graft_dot", "graft_hyperplane_bands",
    "graft_collect_capped", "graft_sorted_intersect_count", "graft_minhash",
    "graft_simhash", "graft_topk_pairs", "graft_srp_bands", "graft_cms", "graft_bloom")

  private def missing(s: SparkSession): Seq[String] =
    graftFunctions.filterNot(s.catalog.functionExists)

  test("a session built only with GraftExtensions resolves every graft function") {
    val absent = withSession(
      SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate())(missing)
    assert(absent.isEmpty, s"not injected: $absent")
  }

  test("Tables.registerAll registers every graft function on a bare session") {
    val bare = spark.newSession()
    assert(missing(bare) == graftFunctions, "a new session starts without graft functions")
    Tables.registerAll(bare, sf)
    assert(missing(bare).isEmpty, s"not registered: ${missing(bare)}")
  }

  test("a factory session resolves every graft function and carries the shared settings") {
    assert(missing(spark).isEmpty, s"not registered: ${missing(spark)}")
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.shuffle.partitions") == GraftSession.cores.toString)
    assert(conf.get("spark.master") == s"local[${GraftSession.cores}]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.cleaner.referenceTracking.blocking.shuffle") == "true")
    assert(conf.getOption("spark.local.dir") == GraftSession.scratchDir)
  }

  test("src/main keeps one SparkSession builder site and one function registration site") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    // code lines only: scaladoc may show users the builder call
    def uses(f: Path, token: String): Boolean =
      Files.readAllLines(f).asScala.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
        .exists(_.contains(token))
    def sites(tokens: String*): Set[String] =
      files.filter(f => tokens.exists(uses(f, _))).map(root.relativize(_).toString).toSet
    assert(sites("SparkSession.builder") == Set("graft/engine/GraftSession.scala"))
    assert(sites("registerFunction", "injectFunction") ==
      Set("graft/functions/Catalog.scala", "graft/engine/GraftExtensions.scala"))
  }

  test("README names every main in src/main, and every runMain it lists exists") {
    val root = Paths.get("src/main/scala")
    val TopObject = """(?:private\[\w+\] )?object (\w+).*""".r
    // fully qualified names of the top-level objects that define main
    val mains = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala
        val pkg = lines.collectFirst { case l if l.startsWith("package ") => l.drop(8).trim }
        var obj = Option.empty[String]
        lines.flatMap {
          case TopObject(name) => obj = Some(name); None
          case l if l.trim.startsWith("def main(") => obj.map(o => s"${pkg.get}.$o")
          case _ => None
        }
      }.toSet
    assert(mains.contains("graft.Bench") && mains.contains("graft.planopt.StableE2EMain"), mains)
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val unlisted = mains.filterNot(m => s"\\b${java.util.regex.Pattern.quote(m)}\\b".r
      .findFirstIn(readme).isDefined)
    assert(unlisted.isEmpty, s"mains missing from README.md: $unlisted")
    val listed = """runMain (graft[\w.]*)""".r.findAllMatchIn(readme).map(_.group(1)).toSet
    assert(listed.nonEmpty)
    assert((listed -- mains).isEmpty, s"README runs mains that do not exist: ${listed -- mains}")
  }

  test("every env var src/main reads is read at one site and named in README.md; no -D graft. twin") {
    val root = Paths.get("src/main/scala")
    val Read = """(?:sys\.env\.get|sys\.env\.getOrElse|sys\.env|System\.getenv)\(\s*"(\w+)"""".r
    // (variable, file:line) for every read on a code line
    val reads = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex
          .filterNot { case (l, _) => Seq("*", "//", "/*").exists(l.trim.startsWith) }
          .flatMap { case (l, i) =>
            Read.findAllMatchIn(l).map(m => m.group(1) -> s"${root.relativize(f)}:${i + 1}") }
      }
    val sites = reads.groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2) }
    assert(sites.contains("SPARK_GRAFT_CPUS") && sites.contains("GRAFT_INDEX_DIR"), sites.keySet)
    val repeated = sites.filter(_._2.size > 1)
    assert(repeated.isEmpty, s"env vars read at more than one site: $repeated")
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val unnamed = sites.keySet.filterNot(v => s"\\b$v\\b".r.findFirstIn(readme).isDefined)
    assert(unnamed.isEmpty, s"env vars missing from README.md: $unnamed")
    val propTwins = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains("sys.props.get(\"graft."))
      .map(root.relativize(_).toString).toSeq
    assert(propTwins.isEmpty, s"-D graft.* settings left in: $propTwins")
  }
}
