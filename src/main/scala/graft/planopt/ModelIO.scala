package graft.planopt

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.Json
import graft.planopt.PlanFeatures.{FeatureGenerator, Normalizer}

/** Save/load for a trained comparator — the Spark-native counterpart
  * of the reference's model directory (`Lero/model.py:100-126`: torch
  * `nn_weights` + pickled `feature_generator` + `input_feature_dim`;
  * the committed `saved_models/stats/stable_model/` is that format).
  * A deployed optimizer must survive a JVM restart: `PlanChoice`
  * installs from this directory, and `StableMain` writes it next to
  * its training log.
  *
  * Layout (no pickle — JSON metadata + raw binary weights):
  *  - `model_meta.json`: format version, `input_feature_dim`, the op
  *    vocabulary, the input-table vocabulary, and the log-min-max
  *    normalizer bounds (JSON doubles round-trip exactly in Java —
  *    `Double.toString` is shortest-round-trip);
  *  - `nn_weights.bin`: big-endian stream, one block per parameter in
  *    `LeroNet.paramGrads` order (conv1..3 w/b, fc1..2 w/b), each
  *    `int32 length` + `length` raw `float64`s — bit-exact.
  */
object ModelIO {

  private val FormatVersion = 1
  private val MetaFile = "model_meta.json"
  private val WeightsFile = "nn_weights.bin"
  private val GateMetaFile = "bayes_meta.json"
  private val GateWeightsFile = "bayes_weights.bin"

  def save(dir: String, model: LeroModelPairWise, gen: FeatureGenerator): Unit = {
    require(model.featureDim == gen.featureDim,
      s"model dim ${model.featureDim} != featurizer dim ${gen.featureDim}")
    Files.createDirectories(Paths.get(dir))

    val root = Json.mapper.createObjectNode()
    root.put("format_version", FormatVersion)
    root.put("input_feature_dim", model.featureDim)
    val ops = root.putArray("op_types")
    gen.opTypes.foreach(ops.add)
    val rels = root.putArray("input_relations")
    gen.inputRelations.foreach(rels.add)
    def putBounds(field: String, m: Map[String, Double]): Unit = {
      val n = root.putObject(field)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    }
    putBounds("normalizer_mins", gen.normalizer.mins)
    putBounds("normalizer_maxs", gen.normalizer.maxs)
    Files.writeString(Paths.get(dir, MetaFile), Json.pretty(root))

    writeWeights(Paths.get(dir, WeightsFile), model.net.paramGrads)
  }

  /** Persist the calibrated Bayesian margin gate next to the main
    * comparator (optional files — a pre-gate artifact stays loadable).
    * Same weight-block format as `nn_weights.bin`, covering the gate's
    * trunk AND head parameters; the calibrated threshold and its
    * train-split evidence ride in `bayes_meta.json`. */
  def saveGate(dir: String, bm: BayesianModelPairWise,
               cal: Pipelines.GateCalibration): Unit = {
    Files.createDirectories(Paths.get(dir))
    val root = Json.mapper.createObjectNode()
    root.put("format_version", FormatVersion)
    root.put("input_feature_dim", bm.featureDim)
    root.put("threshold", cal.threshold)
    root.put("score_gap_threshold", cal.scoreGapThreshold)
    root.put("calibration_pairs", cal.nPairs)
    root.put("calibration_routed", cal.nRouted)
    root.put("calibration_net_gain_ms", cal.netGainMs)
    root.put("calibration_ungated_gain_ms", cal.gainAllMs)
    Files.writeString(Paths.get(dir, GateMetaFile), Json.pretty(root))
    writeWeights(Paths.get(dir, GateWeightsFile), bm.net.paramGrads ++ bm.head.paramGrads)
  }

  /** Load the margin [[Gate]] if the artifact carries one; None for
    * pre-gate artifacts (the strategy then routes ungated, the pre-r18
    * behavior). A z-only artifact (no gap field) loads with score-gap
    * threshold 0 — every positive gap clears it, the one-axis
    * behavior. */
  def loadGate(dir: String): Option[Gate] = {
    val meta = Paths.get(dir, GateMetaFile)
    val weights = Paths.get(dir, GateWeightsFile)
    if (!Files.exists(meta) || !Files.exists(weights)) return None
    val root = Json.readFile(meta)
    val version = root.get("format_version").asInt()
    require(version == FormatVersion,
      s"unsupported gate format version $version (expected $FormatVersion)")
    val dim = root.get("input_feature_dim").asInt()
    val thr = root.get("threshold").asDouble()
    val gapThr = Option(root.get("score_gap_threshold"))
      .map(_.asDouble()).getOrElse(0.0)
    val bm = new BayesianModelPairWise(dim)
    readWeights(weights, bm.net.paramGrads ++ bm.head.paramGrads)
    Some(Gate(bm, thr, gapThr))
  }

  def load(dir: String): (LeroModelPairWise, FeatureGenerator) = {
    val root = Json.readFile(Paths.get(dir, MetaFile))
    val version = root.get("format_version").asInt()
    require(version == FormatVersion,
      s"unsupported model format version $version (expected $FormatVersion)")
    val dim = root.get("input_feature_dim").asInt()
    def strings(field: String): Vector[String] =
      root.get(field).elements().asScala.map(_.asText()).toVector
    def bounds(field: String): Map[String, Double] =
      root.get(field).properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    val gen = FeatureGenerator.restore(
      Normalizer(bounds("normalizer_mins"), bounds("normalizer_maxs")),
      strings("input_relations"), strings("op_types"))
    require(gen.featureDim == dim,
      s"persisted input_feature_dim $dim != reconstructed featurizer dim ${gen.featureDim}")

    val model = new LeroModelPairWise(dim)
    readWeights(Paths.get(dir, WeightsFile), model.net.paramGrads)
    (model, gen)
  }

  /** One `int32 length` + `length` raw `float64`s block per parameter,
    * in `params` order. */
  private def writeWeights(file: Path, params: Seq[(Array[Double], Array[Double])]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file.toFile)))
    try {
      params.foreach { case (param, _) =>
        out.writeInt(param.length)
        var i = 0
        while (i < param.length) { out.writeDouble(param(i)); i += 1 }
      }
    } finally out.close()
  }

  /** Fill `params` from a [[writeWeights]] file; a block of the wrong
    * length or bytes past the last block fail loudly. */
  private def readWeights(file: Path, params: Seq[(Array[Double], Array[Double])]): Unit = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file.toFile)))
    try {
      params.foreach { case (param, _) =>
        val n = in.readInt()
        require(n == param.length,
          s"weight block length $n != expected ${param.length} in ${file.getFileName} " +
            "(architecture/dim mismatch)")
        var i = 0
        while (i < n) { param(i) = in.readDouble(); i += 1 }
      }
      require(in.read() == -1, s"trailing bytes in ${file.getFileName}")
    } finally in.close()
  }
}
