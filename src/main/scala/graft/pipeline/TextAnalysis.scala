package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Text-analysis operators over `documents`: token stats, heuristic
  * language ID, quality scoring, and content fingerprinting — the
  * per-document featurization layer of an LLM data pipeline.
  *
  * Everything is a codegen'd column expression (split / filter /
  * regexp_replace / md5) feeding a hash-aggregate — no UDF, no
  * collect; per-doc work is bounded by document length, so the whole
  * module is embarrassingly parallel at 100 TB.
  *
  * Cross-engine determinism rules used throughout (the driver's hash
  * is type- and representation-sensitive):
  *  - integer aggregates are CAST to BIGINT in the oracle (DuckDB
  *    sum(INT) widens to HUGEINT, Spark to BIGINT);
  *  - ratios are computed as ONE double division of exact integer
  *    sums (never avg() of per-row doubles — partial-aggregation
  *    order would change the float result);
  *  - language ID is a deterministic marker-word argmax written
  *    identically on both sides (the `lang` column is synthetic and
  *    uncorrelated with the text, so the heuristic IS the spec).
  */
object TextAnalysis {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")

  private val wordsCol: Column = split(trim(col("text")), "\\s+")

  // marker-word lists for the n-gram-style language heuristic
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "et", "les"))

  private def markerScore(words: Seq[String]): Column =
    size(filter(wordsCol, x => x.isin(words.map(lit): _*)))

  /** BPE-ish subword pre-tokenizer pattern: letter runs, single
    * digits, punctuation runs — the GPT-2-style split shape, kept to
    * ASCII classes (no lookarounds) so Java regex (Spark) and RE2
    * (DuckDB) agree byte-for-byte. */
  private val SubtokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token counting per language: whitespace tokenizer AND the
    // BPE-ish regex pre-tokenizer (the pair a training pipeline
    // actually tracks — words for stats, subword proxy for cost)
    "txt1_token_stats" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .groupBy(col("lang"))
        .agg(sum(size(wordsCol)).cast("long").as("n_tokens"),
          sum(size(regexp_extract_all(col("text"), lit(SubtokenPattern), lit(0))))
            .cast("long").as("n_subtokens"),
          sum(length(col("text"))).cast("long").as("n_chars_sum"),
          count(lit(1)).as("n_docs"))),
    // heuristic language ID: marker-word argmax (en > de > es > fr
    // precedence on ties), 'und' when no markers hit
    "txt2_lang_id" -> ((spark, sfDir) => {
      val s = Markers.map { case (l, ws) => l -> markerScore(ws) }.toMap
      val predicted =
        when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr") &&
          s("en") > 0, "en")
          .when(s("de") >= s("es") && s("de") >= s("fr") && s("de") > 0, "de")
          .when(s("es") >= s("fr") && s("es") > 0, "es")
          .when(s("fr") > 0, "fr")
          .otherwise("und")
      docs(spark, sfDir)
        .select(predicted.as("predicted_lang"))
        .groupBy(col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    // quality scoring: per-source token/char/punct sums + pass-count
    // for a length/word-shape filter, ratio as one final division
    "txt3_quality" -> ((spark, sfDir) => {
      val nWords = size(wordsCol)
      val nChars = length(col("text"))
      val nPunct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
      val avgWordLen =
        length(regexp_replace(col("text"), " ", "")).cast("double") /
          nWords.cast("double")
      val pass = nWords >= 50 && nWords <= 1000 &&
        avgWordLen >= 3.0 && avgWordLen <= 8.0
      docs(spark, sfDir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(pass, 1L).otherwise(0L)).cast("long").as("n_quality"),
          sum(nWords).cast("long").as("n_tokens"),
          round(sum(nPunct).cast("double") / sum(nChars).cast("double"), 6)
            .as("punct_ratio"))
    }),
    // content fingerprint: md5 over whitespace-normalized lowercase
    // text (the exact-dedup key for "same modulo whitespace/case")
    "txt4_fingerprint" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .groupBy(col("lang"))
        .agg(countDistinct(
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
          .as("n_fingerprints"),
          count(lit(1)).as("n_docs"))),
    // txt5: repetition signals (the Gopher-style quality dimension
    // txt3's length/punct gates don't see) — duplicate-word and
    // duplicate-bigram fractions per source, plus a per-doc
    // "repetitive" flag at dup-bigram > 20%. Numeric design for the
    // cross-engine hash: every aggregate is an EXACT integer sum
    // (distinct/total counts), with ONE double division at the end —
    // no float accumulation whose association order could differ
    // between engines — and the 20% threshold is the integer
    // comparison (nb-ndb)*5 > nb, float-free. Per-doc work is
    // map-side and bounded by document length; the only shuffle is
    // the final per-source partial/final hash-agg.
    "txt5_repetition" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("source"), wordsCol.as("w"))
        .select(col("source"), size(col("w")).as("nw"),
          size(array_distinct(col("w"))).as("ndw"),
          expr("""if(size(w) < 2, array(),
                 |  transform(sequence(0, size(w) - 2),
                 |    i -> concat_ws(' ', w[i], w[i+1])))""".stripMargin)
            .as("b"))
        .select(col("source"), col("nw"), col("ndw"),
          size(col("b")).as("nb"), size(array_distinct(col("b"))).as("ndb"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when((col("nb") - col("ndb")) * 5 > col("nb"), 1L)
            .otherwise(0L)).cast("long").as("n_repetitive"),
          round(lit(1) - sum(col("ndw")).cast("double") /
            sum(col("nw")).cast("double"), 6).as("dup_word_ratio"),
          // nullif guard: a source whose docs ALL have <2 tokens has
          // sum(nb)=0 — Spark's double 0/0 is NaN while DuckDB's
          // yields NULL, a guaranteed hash mismatch; dividing by NULL
          // makes both engines agree on NULL. (nw needs no guard:
          // split() never returns an empty array, so sum(nw) >=
          // n_docs >= 1.)
          round(lit(1) - sum(col("ndb")).cast("double") /
            nullif(sum(col("nb")), lit(0)).cast("double"), 6)
            .as("dup_bigram_ratio"))),
    // txt6: per-language top-k bigram vocabulary — the corpus-stats
    // verb behind vocab inspection / contamination spot-checks ("what
    // dominates each language slice"). One shuffle on (lang, gram)
    // for the count, then the rank<=k filter compiles to
    // WindowGroupLimit: each task truncates to its local top-k per
    // lang BEFORE the per-lang exchange, so the second shuffle
    // carries O(langs·k), never the gram vocabulary. Ties broken by
    // gram text (both engines compare UTF-8 bytes), so top-k is
    // deterministic cross-engine.
    "txt6_ngram_topk" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      docs(spark, sfDir)
        .select(col("lang"), wordsCol.as("w"))
        .select(col("lang"), explode(expr(
          """if(size(w) < 2, array(),
            |  transform(sequence(0, size(w) - 2),
            |    i -> concat_ws(' ', w[i], w[i+1])))""".stripMargin)).as("gram"))
        .groupBy(col("lang"), col("gram"))
        .agg(count(lit(1)).as("n_occurrences"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("n_occurrences").desc, col("gram"))))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk").cast("long").as("rnk"),
          col("gram"), col("n_occurrences"))
    }),
    // the composed training-data pipeline, end to end in ONE plan:
    // quality gate → exact dedup by fingerprint (deterministic
    // representative = lowest doc_id) → per-source corpus stats.
    // Shape at 100 TB: filter is a pushed scan predicate, dedup is a
    // window over the fingerprint hash (one shuffle on fp), stats a
    // partial/final hash-agg — no join, no collect.
    "pipe1_clean_corpus" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val nWords = size(wordsCol)
      val nChars = length(col("text"))
      val avgWordLen =
        length(regexp_replace(col("text"), " ", "")).cast("double") /
          nWords.cast("double")
      val pass = nWords >= 50 && nWords <= 1000 &&
        avgWordLen >= 3.0 && avgWordLen <= 8.0
      val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      docs(spark, sfDir)
        .filter(pass)
        .select(col("doc_id"), col("source"), fp.as("fp"),
          nWords.cast("long").as("n_tok"), nChars.cast("long").as("n_char"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).cast("long").as("tokens_kept"),
          sum(col("n_char")).cast("long").as("chars_kept"))
    }),
    // The full training-mix build, composed end to end: training
    // split (eval docs held out) → quality gate → exact dedup by
    // normalized fingerprint (representative = lowest doc_id) →
    // benchmark DECONTAMINATION (drop any doc sharing an 8-gram with
    // the eval split — dc1's machinery) → per-source stratified
    // sample quota (hash-ordered, deterministic) → token-budget shard
    // packing. One composed plan, reported per (source, shard).
    // Scale shape: the quality gate is a scan predicate; dedup is one
    // window over fp; the contamination set is doc-id-sized and
    // broadcast into a LEFT ANTI join; sampling and packing shuffle
    // once each on source with WindowGroupLimit/bounded per-key
    // sorts. The oracle re-derives every stage in DuckDB, so the gate
    // pins the COMPOSITION (each stage feeding the next), not just
    // the pieces.
    "pipe2_training_mix" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val nWords = size(wordsCol)
      val avgWordLen =
        length(regexp_replace(col("text"), " ", "")).cast("double") /
          nWords.cast("double")
      val pass = nWords >= 50 && nWords <= 1000 &&
        avgWordLen >= 3.0 && avgWordLen <= 8.0
      val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val isEval = col("doc_id") % Dedup.DecontamMod === 0
      // contaminated training doc_ids (dc1's gram machinery: per-doc
      // distinct 8-grams, eval side DISTINCT+broadcast)
      val g = Dedup.decontamGrams(spark, sfDir)
      val ev = g.filter(col("doc_id") % Dedup.DecontamMod === 0)
        .select(col("g")).distinct()
      val contaminated = g.filter(col("doc_id") % Dedup.DecontamMod =!= 0)
        .join(broadcast(ev), "g").select(col("doc_id")).distinct()
      docs(spark, sfDir)
        .filter(!isEval)
        .filter(pass)
        .select(col("doc_id"), col("source"), col("text"), fp.as("fp"),
          nWords.cast("long").as("n_tok"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("srn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(md5(col("text").cast("binary")), col("doc_id"))))
        .filter(col("srn") <= MixQuota)
        .withColumn("cum", sum(col("n_tok")).over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("source"),
          expr(s"(cum - n_tok) div $ShardTokenBudget").as("shard_id"),
          col("n_tok"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("shard_tokens"))
        .orderBy(col("source"), col("shard_id"))
    }),
    // deterministic rate sampling: keep a doc iff the first hex digit
    // of md5(text) < '4' (a 4/16 = 25% expected rate). Reproducible
    // across engines, runs, and cluster sizes — the auditability
    // property a training pipeline needs from its downsampler (unlike
    // rand()-based TABLESAMPLE). Pure map-side filter + hash-agg: no
    // shuffle beyond the final tiny per-source aggregate at any scale.
    "samp1_hash_sample" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .filter(substring(md5(col("text").cast("binary")), 1, 1) < "4")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(octet_length(col("text"))).cast("long").as("sampled_bytes"))),
    // deterministic stratified quota: the FIRST 50 docs per source in
    // md5-hash order (tie-broken by doc_id) — fixed-size per-stratum
    // samples with no randomness. The rank<=k filter compiles to
    // WindowGroupLimit: each task truncates to its local top-k before
    // the per-source exchange, so the shuffle carries O(strata·k).
    "samp2_stratified" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      docs(spark, sfDir)
        .select(col("doc_id"), col("source"),
          octet_length(col("text")).as("nb"),
          md5(col("text").cast("binary")).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rn") <= 50)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("nb")).cast("long").as("sampled_bytes"))
    }),
    // deterministic GLOBAL SHUFFLE — the training-order randomization
    // step between curation and shard writes (every epoch-0 data
    // loader assumes the corpus arrives in random order; doing it in
    // the engine keeps it reproducible). Spark-first scalable shape:
    // a md5-keyed permutation materialized as (shard, pos) — shard
    // from the hash's first SIX bytes (48 bits: a 16-bit key would
    // silently cap effective shards at 65536, breaking the adaptive
    // shard-count contract past ~131M docs — r12 review finding) mod
    // an ADAPTIVE shard count (dd10's corpus-count contract: the
    // count is one metastore lookup at 100 TB; 48 bits keep the mod
    // bias under shards/2^48 at any shard count the formula can
    // reach), position by row_number over (hash, doc_id) WITHIN
    // the shard, so the sort parallelizes over shards and no global
    // total order is ever computed on one node (a single ORDER BY
    // md5 would range-sort fine too, but global contiguous ranks
    // would then need a sequential pass). Cross-engine exact: md5
    // hex compares lexicographically the same in both engines,
    // conv(hex,16,10) ≡ DuckDB's 0x-cast, and the oracle re-derives
    // the same shard count by the same integer-ceil formula.
    "shuf1_global_shuffle" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(spark, sfDir)
      val shards = shuffleShards(d.count())
      d.select(col("doc_id"),
          md5(concat(lit("shuf"), col("doc_id").cast("string"))
            .cast("binary")).as("h"))
        .withColumn("shard", expr(
          s"cast(conv(substr(h, 1, 12), 16, 10) % $shards as bigint)"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
          .cast("long"))
        .select(col("shard"), col("pos"), col("doc_id"))
    }),
    // training-shard packing: assign docs to fixed token-budget shards
    // by a running token sum per SOURCE (shard_id = floor of the
    // pre-doc cumulative count / budget) — the sequence-packing step
    // before writing training shards. Keyed per source deliberately: a
    // GLOBAL running sum is inherently sequential, while per-key
    // packing parallelizes over output shard groups (source/date at
    // 100 TB) — one shuffle on the key, per-key sort bounded by group
    // size.
    "pack1_token_shards" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(spark, sfDir)
        .select(col("doc_id"), col("source"),
          size(wordsCol).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("source"),
          expr(s"(cum - n_tok) div $ShardTokenBudget").as("shard_id"),
          col("n_tok"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("shard_tokens"))
    }),
    // txt7: PII-style masking pass over the event property payloads
    // (the one corpus column with digit runs): every digit run becomes
    // <NUM>. The gate pins the masked CONTENT — an order-independent
    // md5-prefix checksum over the redacted strings per event type —
    // not just byte counts, so a wrong mask boundary fails the hash.
    // Scale shape: one narrow map-side projection (two codegen'd
    // regexp_replace calls, no UDF) feeding a 5-key hash-agg; at
    // 100 TB this is the canonical scrub-then-reshard pass — the only
    // shuffle is the bounded final aggregate. Both regexes are plain
    // ASCII character classes, identical under Java regex and RE2.
    "txt7_redact" -> ((spark, sfDir) =>
      Tables.load(spark, sfDir, "events")
        .select(col("event_type"), col("props"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("red"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(octet_length(col("props"))).cast("long").as("bytes_raw"),
          sum(octet_length(col("red"))).cast("long").as("bytes_redacted"),
          sum(octet_length(col("props")) -
            octet_length(regexp_replace(col("props"), "[0-9]", "")))
            .cast("long").as("digit_chars"),
          sum(conv(substring(md5(col("red").cast("binary")), 1, 12), 16, 10)
            .cast("decimal(38,0)")).cast("string").as("red_hash_sum"))
        .orderBy(col("event_type"))),
    // mix1: TEMPERATURE-WEIGHTED SOURCE MIXING — the training-mix
    // reweighting verb (XLM-R/mC4 style): sample each source group at
    // a rate ∝ n_s^α (α=0.5, temperature 2), so rare sources are
    // upsampled relative to their natural share and dominant ones
    // downsampled, within a global budget of half the corpus. The
    // uniform 25-doc sources are re-binned by m = floor(sqrt(source
    // index)) into skewed meta-sources (25/75/125/175/100 docs at
    // sf0.01) so the reweighting genuinely bites — m0's quota exceeds
    // its size (caps at n_s: sampling without replacement), m3's is
    // ~39% of its share. Numeric discipline: per-group sqrt is
    // rounded to DECIMAL(20,6) before the order-free DECIMAL
    // denominator sum; quota = floor(double ratio × integer budget)
    // with both operands exact — deterministic cross-engine.
    // Selection is RATE-based (the samp1 map-side shape, scaled to a
    // 60-bit md5-prefix threshold = floor(quota/n_s · 2^60)): after
    // the tiny stats aggregate broadcasts back, the corpus pass is
    // map-side — no per-group sort, no second shuffle — which is the
    // shape that holds when a "source" is 10 TB. The gate hashes
    // (group, n_docs, quota, n_selected, bytes), so the DERIVED rates
    // and the selected set are both pinned.
    "mix1_temperature_mix" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).select(col("doc_id"), col("text"),
        concat(lit("m"), floor(sqrt(expr("cast(substring(source, 4) as double)")))
          .cast("long").cast("string")).as("m"))
      val sizes = d.groupBy(col("m")).agg(count(lit(1)).as("n_docs"),
        expr("cast(round(sqrt(count(1)), 6) as decimal(20,6))").as("sq"))
      // denominator totals via an unpartitioned window over the tiny
      // per-group stats frame (one row per source group — the frame
      // is index-header-sized at any corpus scale), which keeps the
      // plan free of nested-loop joins (the mechanical audit flags
      // BNLJ; a crossJoin of the 1-row total was its only use here)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val quotas = sizes
        .withColumn("tot", sum(col("sq")).over(w))
        .withColumn("n_total", sum(col("n_docs")).over(w))
        .withColumn("quota", least(
          floor(expr("cast(sq as double) / cast(tot as double)") *
            expr("cast(n_total div 2 as double)")).cast("long"),
          col("n_docs")))
        .select(col("m"), col("n_docs"), col("quota"))
      d.join(broadcast(quotas), "m")
        .filter(expr(
          "cast(conv(substr(md5(cast(text as binary)), 1, 15), 16, 10) as bigint)") <
          floor(col("quota").cast("double") / col("n_docs").cast("double") *
            lit(1152921504606846976.0)).cast("long")) // 16^15 = 2^60, exact
        .groupBy(col("m"), col("n_docs"), col("quota"))
        .agg(count(lit(1)).as("n_selected"),
          sum(octet_length(col("text"))).cast("long").as("sampled_bytes"))
        .orderBy(col("m"))
    }),
    // txt9: QUALITY CUTOFF AT A DATA-DERIVED PERCENTILE — the
    // FineWeb-style "keep the top quartile by quality" verb, the
    // percentile sibling of mix1's data-derived rates: the threshold
    // is a STATISTIC of the corpus (per-language P75 of a
    // lexical-diversity score), not a constant. Numeric discipline
    // makes the whole derivation BIT-exact cross-engine with zero
    // rounding calls: the score is integer micro-units
    // floor(distinct_words·1e6/words + 0.5) (the emb1 floor-form —
    // odd/power-of-two word counts produce EXACT decimal halves,
    // the repo-wide round()-tie class where engines' HALF semantics
    // may differ by type/version; the floor form never reaches
    // round()), and P75 interpolation over integer-valued doubles is
    // exact in IEEE arithmetic (lo/hi ≤ 1e6, fraction ∈ {0,.25,.5,.75}),
    // so Spark's percentile and DuckDB's quantile_cont produce the
    // IDENTICAL double and the >= comparison cannot flake. Scale
    // shape: per-doc scoring is map-side; the per-lang percentile is
    // one partial/final agg over (lang, score) — at 100 TB you swap
    // in approx_percentile with a tolerance contract (x19's gate) and
    // keep the same two-pass plan; the tiny threshold frame
    // broadcasts back, so the second corpus pass stays map-side
    // (mix1's discipline).
    "txt9_quality_cutoff" -> ((spark, sfDir) => {
      val score6 = floor(
        size(array_distinct(wordsCol)).cast("double") * lit(1e6) /
          size(wordsCol).cast("double") + lit(0.5)).cast("long")
      val d = docs(spark, sfDir)
        .select(col("lang"), col("text"), score6.as("score6"))
      val thr = d.groupBy(col("lang"))
        .agg(expr("percentile(score6, 0.75)").as("thr"))
      d.join(broadcast(thr), "lang")
        .filter(col("score6").cast("double") >= col("thr"))
        .groupBy(col("lang"), col("thr"))
        .agg(count(lit(1)).as("n_kept"),
          sum(octet_length(col("text"))).cast("long").as("kept_bytes"),
          round(sum(col("score6")).cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_kept_score"))
        .orderBy(col("lang"))
    }),
    // bpe1: BPE TOKENIZER TRAINING, round 1 — the first merge's pair
    // statistics, cross-engine exact. Training (pipeline/Bpe.scala)
    // is the standard two-phase split: a bounded top-K word-frequency
    // dict from ONE corpus shuffle, then a driver-side merge loop
    // over that metadata-sized dict. Round 1's pair counts are plain
    // SQL — adjacent char pairs are 2-char substrings, weighted by
    // word frequency — so the gate pins the corpus-scale phase and
    // the trainer's argmax seam in both engines (the spec pins
    // gate-rank-1 == trainer-first-merge). Overlap semantics match
    // the trainer: "aaa" yields (a,a) twice in both formulations.
    "bpe1_pair_counts" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val dict = docs(spark, sfDir)
        .select(explode(wordsCol).as("word"))
        .filter(length(col("word")) >= Bpe.MinWordLen)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(Bpe.DictSize)
      dict.select(col("n"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).cast("long").as("weight"))
        .orderBy(col("weight").desc, col("pair")).limit(BpePairTopK)
        // rank over 20 bounded rows — the unpartitioned window is
        // post-limit, never corpus-sized
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("weight").desc, col("pair"))).cast("long"))
        .select(col("rnk"), col("pair"), col("weight"))
    }),
    // txt10: CORPUS-LM QUALITY SCORING — the CCNet/KenLM-style
    // perplexity filter re-expressed with INTEGER-exact arithmetic so
    // the cross-engine hash cannot flake on transcendental rounding.
    // The "LM" is the corpus's own top-K bigram table; each entry
    // carries its rounded inverse conditional probability
    // r = (Σ_x count(w1 x)) DIV count(w1 w2) — an exact integer
    // surprisal weight (frequent continuations score low, rare ones
    // high), with a flat penalty for out-of-model bigrams. Per doc:
    // bigram count, in-model count, and the summed surprisal — the
    // signals a CCNet-style "head/middle/tail by LM score" split
    // cuts on. Scale shape, all whole-stage codegen: the LM build is
    // a bounded-output corpus shuffle on gram (txt6's family) + a
    // vocab-sized prefix rollup, LIMITed to K = LmTopK rows; the
    // corpus side streams through a BroadcastHashJoin against that
    // bounded model (never shuffling to be scored — dc1's
    // broadcast-grams precedent) and the per-doc rollup's partial
    // aggregation runs before its exchange, so the one corpus-keyed
    // shuffle carries one row per (doc, task), not per gram. (An
    // earlier in-row formulation via a literal map + HOFs was
    // plan-prettier — zero exchanges — but element_at on a literal
    // map is an interpreted O(K) scan per gram: 12.7s vs ~1s at
    // sf0.1. The join form is the one codegen keeps.)
    "txt10_lm_score" -> ((spark, sfDir) => {
      // gram enumeration via zip_with over two slices — NOT txt6's
      // transform(sequence, i -> w[i] ...) form: when a projection
      // selects ONLY the generator, CollapseProject inlines the
      // word-split into the lambda, and a lambda that indexes `w`
      // re-runs the regex split PER ELEMENT (measured: 8.8s vs 0.9s
      // at sf0.1 for the identical output). zip_with references `w`
      // only OUTSIDE the lambda, so the split stays once-per-row
      // under any collapse.
      val grams = docs(spark, sfDir)
        .select(col("doc_id"), wordsCol.as("w"))
        .select(col("doc_id"), expr(
          """zip_with(
            |  slice(w, 1, greatest(size(w) - 1, 0)),
            |  slice(w, 2, greatest(size(w) - 1, 0)),
            |  (a, b) -> concat_ws(' ', a, b))""".stripMargin).as("grams"))
      val bigramCounts = grams.select(explode(col("grams")).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("nb"))
      val prefixTotals = bigramCounts
        .groupBy(substring_index(col("gram"), " ", 1).as("w1"))
        .agg(sum(col("nb")).as("nu"))
      val lm = bigramCounts
        .join(prefixTotals,
          substring_index(col("gram"), " ", 1) === col("w1"))
        .orderBy(col("nb").desc, col("gram"))
        .limit(LmTopK)
        .select(col("gram"), expr("nu DIV nb").as("ratio"))
      grams.select(col("doc_id"), explode_outer(col("grams")).as("gram"))
        .join(broadcast(lm), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("gram")).as("n_bigrams"),
          count(col("ratio")).as("n_in_lm"),
          coalesce(sum(when(col("gram").isNull, lit(0L))
              .otherwise(coalesce(col("ratio"), lit(LmOovPenalty)))),
            lit(0L)).as("surprisal"))
    }),
    // txt8: OVERLAPPING WINDOW CHUNKING — the RAG/pretraining
    // segmentation verb: each doc's whitespace tokens split into
    // 64-token windows at stride 48 (16-token overlap), n_chunks =
    // 1 + ceil(max(len-64,0)/48) in pure integer arithmetic. The gate
    // pins per-doc chunk COUNT and an order-free sum of each chunk's
    // md5-prefix — a wrong window boundary changes a chunk's text and
    // fails the hash. Scale shape: chunk enumeration and hashing run
    // INSIDE the row via higher-order expressions (sequence →
    // aggregate), so chunk text never leaves its row and the operator
    // is pure map-side — zero shuffles; the HOF lambda is interpreted
    // but string-hash-dominated (same trade dc1 documents for its
    // gram stream).
    "txt8_chunk_overlap" -> ((spark, sfDir) =>
      docs(spark, sfDir)
        .select(col("doc_id"), wordsCol.as("w"))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          expr(s"cast(1 + (greatest(size(w) - $ChunkWindow, 0) + ${ChunkStride - 1}) div $ChunkStride as bigint)")
            .as("n_chunks"),
          expr(
            s"""aggregate(
               |  sequence(0, (greatest(size(w) - $ChunkWindow, 0) + ${ChunkStride - 1}) div $ChunkStride),
               |  cast(0 as bigint),
               |  (acc, i) -> acc + cast(conv(substr(md5(cast(
               |    concat_ws(' ', slice(w, cast(1 + i * $ChunkStride as int), $ChunkWindow))
               |    as binary)), 1, 8), 16, 10) as bigint))""".stripMargin)
            .as("chunk_hash_sum"))
        .orderBy(col("doc_id"))),
    // txt11: KEY-TERM EXTRACTION — per-document TF-IDF with the
    // transcendental removed, txt10's integer-surprisal trick applied
    // to idf: weight(term) = length(bin(N DIV df)) = floor(log2(N/df))
    // + 1, an exact integer in BOTH engines (Spark bin() and DuckDB
    // bin() emit the same minimal binary string), log-damped like real
    // idf so a single rare typo cannot drown a document's true topic
    // terms, and >= 1 so in-every-doc terms still tie-break by tf.
    // score = tf * weight; top-3 terms per doc by (score DESC, term).
    // Scale shape: ONE corpus explode -> (doc_id, term) hash-agg
    // (exchange 1, partial agg first so the shuffle carries per-task
    // term counts), tf persisted for its two consumers; df = per-term
    // count over those already-distinct pairs (exchange 2,
    // vocabulary-sized output, broadcast back so tf never re-keys;
    // each tf row matches exactly one df row, no fan-out), then one
    // doc_id exchange where rank<=3 compiles to WindowGroupLimit so
    // each task truncates to its local top-3 per doc BEFORE the
    // shuffle, and the final per-doc pivot rollup reuses that same
    // doc_id partitioning. Every stage is linear in corpus size; N is
    // one metastore count (dd10/shuf1's corpus-count contract). At
    // 100 TB the vocabulary outgrows a broadcast and AQE flips the
    // score join to sort-merge on term — still linear, one extra
    // tf exchange.
    "txt11_keyterms" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val nDocs = docs(spark, sfDir).count()
      val tf = docs(spark, sfDir)
        .select(col("doc_id"), explode(wordsCol).as("term"))
        .filter(length(col("term")) >= KeytermMinLen)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        // referenced by both the df rollup and the score join — without
        // this the corpus is exploded and aggregated TWICE (static
        // planning does not reuse the exchange across the broadcast
        // boundary); dd11's grams.persist() precedent
        .persist()
      val dfreq = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "term")
        .select(col("doc_id"), col("term"),
          (col("tf") * expr(s"length(bin($nDocs DIV df))"))
            .cast("long").as("score"))
      scored
        .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
        .filter(col("rnk") <= KeytermTopK)
        .groupBy(col("doc_id"))
        .agg(max(when(col("rnk") === 1, col("term"))).as("t1"),
          max(when(col("rnk") === 2, col("term"))).as("t2"),
          max(when(col("rnk") === 3, col("term"))).as("t3"),
          max(when(col("rnk") === 1, col("score"))).cast("long")
            .as("top_score"))
    }),
    // cms1: COUNT-MIN SKETCH heavy-hitter frequencies — the
    // frequency-estimation member of the sketch family (membership =
    // io12 bloom, distinct = x18 HLL, quantile = x19, similarity =
    // dd3/dd4 minhash/simhash): at 100 TB "how often does this token /
    // domain / fingerprint occur" is answered in ONE map-side pass
    // (graft_cms partials are constant 256 KiB, merge = element-wise
    // sum) where the exact rollup shuffles the full key universe.
    // Gate = x18's tolerance-contract pattern: the exact top-K terms
    // (ground truth, its own shuffle — in production ONLY the sketch
    // pass runs) are probed against the sketch IN-PLAN (the probe
    // arithmetic is SQL-reachable by construction — CmsSketch
    // .estimateSql), emitting two 0/1 contract flags the oracle
    // expects to be identically 1: lower_ok (estimates never
    // undercount — structural: min over rows that each hold true
    // count + non-negative collisions) and bound_ok (overcount within
    // the sized ceil(2N/width) margin — measured-deterministic for
    // this data+hash at sf0.001→sf1, same pinning contract as x18's
    // 5% HLL tolerance). A drifting sketch fails the cross-engine
    // hash on the flag columns.
    "cms1_heavy_hitters" -> ((spark, sfDir) => {
      import graft.functions.CmsSketch
      val terms = termStream(docs(spark, sfDir))
      val sketch = terms
        .select(xxhash64(col("term")).as("k"))
        .agg(expr(s"graft_cms(k, $CmsDepth, $CmsWidth)").as("cms"),
          count(lit(1)).as("n_total"))
      val top = terms.groupBy(col("term"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("term"))
        .limit(CmsTopK)
      top.crossJoin(broadcast(sketch))
        .withColumn("est", expr(CmsSketch.estimateSql(
          "cms", "xxhash64(term)", CmsDepth, CmsWidth)))
        .select(col("term"), col("exact_cnt"),
          (col("est") >= col("exact_cnt")).cast("long").as("lower_ok"),
          (col("est") <= col("exact_cnt") +
            expr(s"(2 * n_total + ${CmsWidth - 1}) DIV $CmsWidth"))
            .cast("long").as("bound_ok"))
    }),
    // srch1: BM25 RETRIEVAL — full-text ranked search over the
    // corpus (the retrieval verb behind decontamination probes,
    // eval-set leakage audits, and targeted curation queries), with
    // the BM25 rational function made EXACT: with k1 = 12/10 and
    // b = 3/4, substituting avgdl = T/D and clearing denominators
    // gives the integer-exact per-term weight
    //   idf · (22·T·tf·10^6) div (10·T·tf + 3·T + 9·dl·D)
    // where idf = length(bin(D div df)) (txt11's integer-surprisal
    // trick), T = total filtered tokens, D = doc count, dl = doc
    // length. Both engines evaluate identical integer arithmetic, so
    // the full ranking hashes cross-engine. (At extreme corpus sizes
    // T enters only through the T·tf / (T·tf + ... ) RATIO, so both
    // sides can be rescaled by a common divisor of T and dl·D before
    // the 10^6 blow-up — the formula never needs more than ~128-bit
    // headroom and a DECIMAL form is a drop-in.)
    // The query workload is derived from the corpus itself: the
    // mid-frequency terms ranked 11–20 by (df DESC, term) become 10
    // two-term queries (term_i, term_{i+1 mod 10}). Scale shape: tf
    // = one corpus explode + hash-agg (persisted — feeds dl, df, and
    // the probe join); df/dl are bounded rollups; the query set is
    // METADATA (10 rows, driver-built like txt10's LM literal) and
    // broadcast-joins against tf, so scoring is map-side over tf;
    // the final top-5 per query window carries O(queries·docs)
    // pre-truncated by WindowGroupLimit to O(queries·5) per task.
    "srch1_bm25" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = docs(spark, sfDir)
        .select(col("doc_id"), explode(wordsCol).as("term"))
        .filter(length(col("term")) >= KeytermMinLen)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist() // feeds dl, df, and the probe join
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      // totals straight off the cached tf (r18): sum(tf) == sum(dl) and
      // countDistinct(doc_id) == |dl| by construction, so the collect
      // skips dl's doc_id exchange — one flat agg action over the cache
      val Array(totT, totD) = tf
        .agg(sum(col("tf")), countDistinct(col("doc_id")))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // bounded vocabulary head → driver metadata (txt10's LM-collect
      // contract); ranks 11..20 in (df DESC, term) order
      val qterms = dfreq.orderBy(col("df").desc, col("term")).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .drop(10).zipWithIndex.map { case ((t, _), i) => (i + 1L, t) }
      val queries = spark.createDataFrame(
        (qterms ++ qterms.map { case (qid, t) =>
          (if (qid == 10L) 1L else qid + 1L, t) }).toSeq)
        .toDF("qid", "qterm")
      tf.join(broadcast(queries), col("term") === col("qterm"))
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .groupBy(col("qid"), col("doc_id"))
        // the corpus totals are inlined as BIGINT literals (the L
        // suffix matters: as INT literals, 22·T silently wraps int32
        // in non-ANSI Spark once T passes ~9.7e7 tokens, while DuckDB
        // auto-promotes — an asymmetric-overflow trap)
        .agg(sum(expr(s"length(bin(${totD}L DIV df)) * " +
          s"(22 * ${totT}L * tf * 1000000 DIV " +
          s"(10 * ${totT}L * tf + 3 * ${totT}L + 9 * dl * ${totD}L))")).as("score"))
        .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("doc_id"), col("score").cast("long").as("score"),
          col("rnk").cast("long").as("rnk"))
    }),
    // drf1: CORPUS DRIFT MONITORING — "did source A's term
    // distribution move away from the rest of the corpus?", the
    // upstream-shift alarm a continuously-ingesting pipeline needs
    // (a crawler change, a spam flood, a parser regression all show
    // up here first). Statistic = a chi-square-style contrast per
    // term, all-integer and exact in both engines:
    //   score(t) = (a·B − b·A)² div (A·B) div (a+b)
    // (a/b = term count in src0 / rest, A/B the totals; the squared
    // cross-product needs DECIMAL(38,0) — (a·B)² passes 10^22 —
    // then two integral divisions land back in BIGINT). A planted
    // marker ('zzdrift' appended twice to every src0 doc, the same
    // cross-engine text derivation both engines re-run) guarantees a
    // true positive at every SF — the gate's top row must be the
    // planted term by a wide margin, evt9's planted-burst pattern.
    // Scale shape: ONE corpus explode into ONE vocabulary-sized
    // conditional hash-agg (a and b in the same pass — the corpus is
    // scanned once, never per-side); totals are a two-long rollup;
    // top-20 via TakeOrderedAndProject. Linear, one shuffle.
    "drf1_source_drift" -> ((spark, sfDir) => {
      val toks = docs(spark, sfDir)
        .select(col("source"),
          when(col("source") === DriftSource,
            concat(col("text"), lit(s" $DriftMarker $DriftMarker")))
            .otherwise(col("text")).as("text"))
        .select(col("source"), explode(wordsCol).as("term"))
        .filter(length(col("term")) >= KeytermMinLen)
      val c = toks.groupBy(col("term"))
        .agg(sum(when(col("source") === DriftSource, 1L).otherwise(0L)).as("a"),
          sum(when(col("source") =!= DriftSource, 1L).otherwise(0L)).as("b"))
        .persist() // feeds the totals rollup and the scoring pass
      val Array(ta, tb) = c.agg(sum(col("a")), sum(col("b")))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      // exact integral division of the DECIMAL square: Spark's `div`
      // on decimals rounds the quotient to scale 6 (HALF_UP) BEFORE
      // truncating — a measured ±1 divergence from DuckDB's exact
      // floor — so the floor is built from the exact remainder
      // identity (x − x % d) / d (both steps exact: % is
      // BigDecimal.remainder, and the divide of an exact multiple
      // has an integral quotient no scale can distort); the second
      // division is then plain BIGINT div (quotient ≤ ~2·10^11)
      c.withColumn("c2",
          expr(s"(cast(a as decimal(38,0)) * ${tb}L - cast(b as decimal(38,0)) * ${ta}L) * " +
            s"(cast(a as decimal(38,0)) * ${tb}L - cast(b as decimal(38,0)) * ${ta}L)"))
        .select(col("term"), col("a"), col("b"),
          expr(s"cast((c2 - c2 % (cast(${ta}L as decimal(38,0)) * ${tb}L)) / " +
            s"(cast(${ta}L as decimal(38,0)) * ${tb}L) as bigint) div (a + b)")
            .as("score"))
        .orderBy(col("score").desc, col("term"))
        .limit(DriftTopK)
    })
  )

  /** txt8's chunking geometry: 64-token windows at stride 48. */
  private val ChunkWindow = 64
  private val ChunkStride = 48

  /** Token budget per packed training shard (pack1). */
  private val ShardTokenBudget = 4096

  /** shuf1's ADAPTIVE shard count: ceil(n / rows-per-shard) with a
    * floor — pure integer arithmetic so the DuckDB oracle re-derives
    * it exactly. The per-shard sort is the only super-linear work
    * and it divides by the shard count, so holding rows-per-shard
    * constant keeps per-shard sort cost flat as the corpus grows
    * (16 shards at gate scale, 25 at the sf1 ScaleUp corpus; a
    * 100 TB run raises the constant so shards land at O(cluster
    * cores)). */
  private val ShuffleRowsPerShard = 2000L
  private val ShuffleMinShards = 16L
  private[graft] def shuffleShards(n: Long): Long =
    math.max(ShuffleMinShards,
      (n + ShuffleRowsPerShard - 1L) / ShuffleRowsPerShard)

  /** Per-source sample quota in the composed training mix (pipe2). */
  private val MixQuota = 50

  /** Bigram-LM size (txt10): bounded at any corpus scale, so the
    * model collects to the driver and broadcasts as a literal map. */
  private val LmTopK = 256

  /** Flat integer surprisal for a bigram outside the LM (txt10). */
  private val LmOovPenalty = 100L

  /** Gated pair-stat rows in BPE training round 1 (bpe1). */
  private val BpePairTopK = 20

  /** drf1: the monitored source, the planted marker token, and the
    * reported top-k. */
  private val DriftSource = "src0"
  private[graft] val DriftMarker = "zzdrift"
  private val DriftTopK = 20

  /** txt11/cms1 term filter: terms shorter than MinLen are function
    * words (every Markers entry is <= 3 chars). Shared with
    * [[graft.streaming.CmsStream]] so the streaming twin cannot
    * drift semantically. */
  private[graft] val KeytermMinLen = 4
  private val KeytermTopK = 3

  /** cms1 sketch geometry (4 × 8 Ki counters = 256 KiB) and gated
    * heavy-hitter count. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 8192
  private val CmsTopK = 20

  /** The cms1 sketch-pass input: the term stream the sketch
    * summarizes — shared by the gate and the streaming twin. */
  private[graft] def termStream(docs: DataFrame): DataFrame =
    docs.select(explode(wordsCol).as("term"))
      .filter(length(col("term")) >= KeytermMinLen)

  /** pipe2's oracle: every stage of the composed mix re-derived in
    * DuckDB — 1-based `range` walks gram starts exactly like dc1's
    * oracle; the 'g' regexp flag mirrors Spark's replace-all. */
  private def pipe2OracleSql: String = {
    val gramConcat = (0 until Dedup.DecontamN)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString("||' '||")
    s"""WITH t AS (
       |  SELECT doc_id, source, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(w) - ${Dedup.DecontamN - 2}),
       |    i -> $gramConcat))) AS g
       |  FROM t),
       |ev AS (SELECT DISTINCT g FROM grams
       |       WHERE doc_id % ${Dedup.DecontamMod} = 0),
       |contaminated AS (
       |  SELECT DISTINCT c.doc_id FROM grams c JOIN ev ON c.g = ev.g
       |  WHERE c.doc_id % ${Dedup.DecontamMod} <> 0),
       |q AS (
       |  SELECT doc_id, source, text, len(w) AS n_tok,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM t
       |  WHERE doc_id % ${Dedup.DecontamMod} <> 0
       |    AND len(w) BETWEEN 50 AND 1000
       |    AND length(replace(text, ' ', '')) * 1.0 / len(w) >= 3.0
       |    AND length(replace(text, ' ', '')) * 1.0 / len(w) <= 8.0),
       |d AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM q),
       |s AS (
       |  SELECT doc_id, source, n_tok,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY md5(text), doc_id) AS srn
       |  FROM d
       |  WHERE rn = 1
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |p AS (
       |  SELECT source, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM s WHERE srn <= $MixQuota)
       |SELECT source,
       |  CAST((cum - n_tok) // $ShardTokenBudget AS BIGINT) AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private def markerListSql(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  private val scoreSql: String = Markers.map { case (l, ws) =>
    s"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), " +
      s"x -> x IN ${markerListSql(ws)})) AS s_$l"
  }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "txt1_token_stats" ->
      """SELECT lang,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))) AS BIGINT) AS n_subtokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars_sum,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang""".stripMargin,
    "txt2_lang_id" ->
      s"""SELECT CASE
         |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |  WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         |  WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |  WHEN s_fr > 0 THEN 'fr'
         |  ELSE 'und' END AS predicted_lang,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM (SELECT $scoreSql FROM documents)
         |GROUP BY 1""".stripMargin,
    "txt3_quality" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN
        |      len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 50 AND 1000
        |      AND length(replace(text, ' ', '')) * 1.0 /
        |          len(regexp_split_to_array(trim(text), '\s+')) >= 3.0
        |      AND length(replace(text, ' ', '')) * 1.0 /
        |          len(regexp_split_to_array(trim(text), '\s+')) <= 8.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  round(sum(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))) * 1.0 /
        |        sum(length(text)), 6) AS punct_ratio
        |FROM documents GROUP BY source""".stripMargin,
    "txt4_fingerprint" ->
      """SELECT lang,
        |  CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT) AS n_fingerprints,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang""".stripMargin,
    // txt5: DuckDB lists are 1-based — range(1, len(w)) walks the
    // bigram start positions 1..len-1, mirroring Spark's 0-based
    // sequence(0, size(w)-2).
    "txt5_repetition" ->
      """WITH d AS (
        |  SELECT source, len(w) AS nw, len(list_distinct(w)) AS ndw,
        |    CASE WHEN len(w) < 2 THEN [] ELSE
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |    END AS b
        |  FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents)
        |),
        |m AS (SELECT source, nw, ndw, len(b) AS nb,
        |             len(list_distinct(b)) AS ndb FROM d)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN (nb - ndb) * 5 > nb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repetitive,
        |  round(1 - sum(ndw) * 1.0 / sum(nw), 6) AS dup_word_ratio,
        |  round(1 - sum(ndb) * 1.0 / sum(nb), 6) AS dup_bigram_ratio
        |FROM m GROUP BY source""".stripMargin,
    // txt6: DuckDB range(1, len(w)) walks bigram start positions
    // 1..len-1 (1-based lists), mirroring Spark's 0-based
    // sequence(0, size(w)-2); single-token docs produce an empty
    // range on both engines.
    "txt6_ngram_topk" ->
      """WITH g AS (
        |  SELECT lang, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i + 1])) AS gram
        |  FROM (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents)
        |),
        |c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n_occurrences
        |      FROM g GROUP BY 1, 2)
        |SELECT lang, rnk, gram, n_occurrences FROM (
        |  SELECT lang, gram, n_occurrences,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_occurrences DESC, gram) AS BIGINT) AS rnk
        |  FROM c
        |) WHERE rnk <= 5""".stripMargin,
    "pipe1_clean_corpus" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
        |  CAST(sum(n_char) AS BIGINT) AS chars_kept
        |FROM (
        |  SELECT doc_id, source, n_tok, n_char,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM (
        |    SELECT doc_id, source,
        |      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |      len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |      length(text) AS n_char
        |    FROM documents
        |    WHERE len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 50 AND 1000
        |      AND length(replace(text, ' ', '')) * 1.0 /
        |          len(regexp_split_to_array(trim(text), '\s+')) >= 3.0
        |      AND length(replace(text, ' ', '')) * 1.0 /
        |          len(regexp_split_to_array(trim(text), '\s+')) <= 8.0
        |  )
        |) WHERE rn = 1
        |GROUP BY source""".stripMargin,
    "pipe2_training_mix" -> pipe2OracleSql,
    "samp1_hash_sample" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS sampled_bytes
        |FROM documents
        |WHERE substr(md5(text), 1, 1) < '4'
        |GROUP BY source""".stripMargin,
    "samp2_stratified" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(nb) AS BIGINT) AS sampled_bytes
        |FROM (
        |  SELECT source, octet_length(encode(text)) AS nb,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(text), doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 50
        |GROUP BY source""".stripMargin,
    // the shard count re-derives by the same integer-ceil formula
    // (GREATEST floor + // ceil-division — exact on BIGINT)
    "shuf1_global_shuffle" ->
      s"""WITH s AS (
         |  SELECT GREATEST($ShuffleMinShards,
         |    (count(*) + ${ShuffleRowsPerShard - 1L}) // $ShuffleRowsPerShard)
         |    AS n_shards
         |  FROM documents)
         |SELECT
         |  CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT) % s.n_shards
         |    AS BIGINT) AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY CAST('0x' || substr(h, 1, 12) AS BIGINT) % s.n_shards
         |    ORDER BY h, doc_id) AS BIGINT) AS pos,
         |  doc_id
         |FROM (SELECT doc_id, md5('shuf' || CAST(doc_id AS VARCHAR)) AS h
         |      FROM documents), s""".stripMargin,
    "pack1_token_shards" ->
      s"""SELECT source, CAST((cum - n_tok) // $ShardTokenBudget AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens
         |FROM (
         |  SELECT doc_id, source, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT doc_id, source,
         |          len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
         |        FROM documents)
         |) GROUP BY 1, 2""".stripMargin,
    // txt7: the 'g' flag mirrors Spark's replace-all default; the
    // hugeint sum of 48-bit md5 prefixes is the same order-independent
    // content checksum the io fingerprints use
    "txt7_redact" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(octet_length(encode(props))) AS BIGINT) AS bytes_raw,
        |  CAST(sum(octet_length(encode(regexp_replace(props, '[0-9]+', '<NUM>', 'g')))) AS BIGINT) AS bytes_redacted,
        |  CAST(sum(octet_length(encode(props))
        |    - octet_length(encode(regexp_replace(props, '[0-9]', '', 'g')))) AS BIGINT) AS digit_chars,
        |  CAST(sum(CAST(CAST('0x' || substr(md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')), 1, 12)
        |    AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS red_hash_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // independent re-derivation of the temperature mix: same DECIMAL
    // sqrt discipline, same 2^60 md5-prefix rate threshold (the
    // 0x-prefix hex cast ≡ Spark's conv, the io-gate equivalence).
    // TRY_CAST, not CAST: Spark's cast returns null on a non-numeric
    // source suffix while DuckDB's CAST throws — under a regenerated
    // corpus with renamed sources both engines must degrade the same
    // way (null group) rather than the oracle erroring while Spark
    // proceeds (the r8 drift lesson); the canary additionally pins
    // the 'src<digits>' format so drift is a NAMED spec failure

    "mix1_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    'm' || CAST(CAST(floor(sqrt(TRY_CAST(substr(source, 4) AS DOUBLE)))
        |      AS BIGINT) AS VARCHAR) AS m
        |  FROM documents),
        |s AS (
        |  SELECT m, count(*) AS n_docs,
        |    CAST(round(sqrt(count(*)), 6) AS DECIMAL(20,6)) AS sq
        |  FROM d GROUP BY m),
        |t AS (SELECT sum(sq) AS tot, sum(n_docs) AS n_total FROM s),
        |q AS (
        |  SELECT m, n_docs,
        |    least(CAST(floor(CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE)
        |      * CAST(n_total // 2 AS DOUBLE)) AS BIGINT), n_docs) AS quota
        |  FROM s, t)
        |SELECT q.m, CAST(q.n_docs AS BIGINT) AS n_docs,
        |  CAST(q.quota AS BIGINT) AS quota,
        |  CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(sum(octet_length(encode(d.text))) AS BIGINT) AS sampled_bytes
        |FROM d JOIN q ON d.m = q.m
        |WHERE CAST('0x' || substr(md5(d.text), 1, 15) AS BIGINT) <
        |  CAST(floor(CAST(q.quota AS DOUBLE) / CAST(q.n_docs AS DOUBLE)
        |    * 1152921504606846976.0) AS BIGINT)
        |GROUP BY q.m, q.n_docs, q.quota ORDER BY q.m""".stripMargin,
    // bit-exact threshold re-derivation: same integer micro-unit
    // score (explicit floor-form), and quantile_cont over
    // integer-valued doubles interpolates exactly (see the Spark-side
    // comment) — no round() anywhere in the comparison path
    "txt9_quality_cutoff" ->
      """WITH s AS (
        |  SELECT lang, text,
        |    CAST(floor(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      * 1e6 / len(regexp_split_to_array(trim(text), '\s+')) + 0.5)
        |      AS BIGINT) AS score6
        |  FROM documents),
        |t AS (SELECT lang, quantile_cont(score6, 0.75) AS thr
        |      FROM s GROUP BY lang)
        |SELECT s.lang, t.thr,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(octet_length(encode(s.text))) AS BIGINT) AS kept_bytes,
        |  round(CAST(sum(s.score6) AS DOUBLE) / count(*) / 1e6, 6)
        |    AS mean_kept_score
        |FROM s JOIN t ON s.lang = t.lang
        |WHERE CAST(s.score6 AS DOUBLE) >= t.thr
        |GROUP BY s.lang, t.thr ORDER BY s.lang""".stripMargin,
    // bpe1: the same two-phase derivation in DuckDB — bounded dict by
    // (count DESC, word), adjacent pairs as 2-char substrings
    // (range(1, len) is exclusive-end ≡ Spark's sequence(1, len-1)
    // inclusive; the len>=2 dict filter keeps both non-degenerate)
    "bpe1_pair_counts" ->
      s"""WITH w AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
         |          AS word FROM documents)
         |  WHERE len(word) >= ${Bpe.MinWordLen}
         |  GROUP BY word ORDER BY n DESC, word LIMIT ${Bpe.DictSize}),
         |p AS (
         |  SELECT n, unnest(list_transform(range(1, len(word)),
         |    i -> substr(word, i, 2))) AS pair
         |  FROM w),
         |a AS (SELECT pair, CAST(sum(n) AS BIGINT) AS weight
         |      FROM p GROUP BY 1
         |      ORDER BY weight DESC, pair LIMIT $BpePairTopK)
         |SELECT CAST(row_number() OVER (ORDER BY weight DESC, pair)
         |    AS BIGINT) AS rnk,
         |  pair, weight
         |FROM a""".stripMargin,
    // txt10: full LM re-derivation — bigram counts, prefix context
    // totals, top-K by (count DESC, gram) with integer-DIV ratios,
    // then per-doc scoring. The no-gram NULL row from the LEFT JOIN
    // must not collect the OOV penalty (CASE guard), and DuckDB's
    // 1-based list indexing mirrors txt6's oracle.
    "txt10_lm_score" ->
      s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |    i -> w[i] || ' ' || w[i + 1])) AS gram
         |  FROM d),
         |b AS (SELECT gram, CAST(count(*) AS BIGINT) AS nb
         |      FROM g GROUP BY 1),
         |u AS (SELECT split_part(gram, ' ', 1) AS w1,
         |        CAST(sum(nb) AS BIGINT) AS nu
         |      FROM b GROUP BY 1),
         |lm AS (
         |  SELECT gram, CAST(nu // nb AS BIGINT) AS ratio
         |  FROM b JOIN u ON split_part(b.gram, ' ', 1) = u.w1
         |  ORDER BY nb DESC, gram LIMIT $LmTopK)
         |SELECT d.doc_id,
         |  CAST(count(g.gram) AS BIGINT) AS n_bigrams,
         |  CAST(count(lm.ratio) AS BIGINT) AS n_in_lm,
         |  CAST(COALESCE(sum(CASE WHEN g.gram IS NULL THEN 0
         |    ELSE COALESCE(lm.ratio, $LmOovPenalty) END), 0) AS BIGINT)
         |    AS surprisal
         |FROM d LEFT JOIN g ON d.doc_id = g.doc_id
         |  LEFT JOIN lm ON g.gram = lm.gram
         |GROUP BY d.doc_id""".stripMargin,
    // per-row chunk windows re-derived with DuckDB list slicing
    // (1-based inclusive [a:b], truncating past the end — same
    // semantics as Spark's slice(arr, start, len))
    "txt8_chunk_overlap" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(words) AS n_tokens, words,
        |    1 + (greatest(len(words) - 64, 0) + 47) // 48 AS n_chunks
        |  FROM w),
        |x AS (
        |  SELECT doc_id, n_tokens, n_chunks, words,
        |    unnest(range(n_chunks)) AS i
        |  FROM c)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(sum(CAST('0x' || substr(md5(array_to_string(
        |    words[(1 + i * 48):(i * 48 + 64)], ' ')), 1, 8) AS BIGINT))
        |    AS BIGINT) AS chunk_hash_sum
        |FROM x GROUP BY doc_id, n_tokens, n_chunks ORDER BY doc_id""".stripMargin,
    // txt11: full TF-IDF re-derivation — same integer idf weight
    // (bin() emits the identical minimal binary string in DuckDB),
    // same (score DESC, term) tie-break.
    "txt11_keyterms" ->
      s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(w) AS term FROM d)
         |  WHERE length(term) >= $KeytermMinLen GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY 1),
         |r AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf * length(bin((SELECT n_docs FROM n) // df.df))
         |      AS BIGINT) AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf * length(bin((SELECT n_docs FROM n) // df.df))
         |        DESC, tf.term) AS rnk
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id,
         |  max(CASE WHEN rnk = 1 THEN term END) AS t1,
         |  max(CASE WHEN rnk = 2 THEN term END) AS t2,
         |  max(CASE WHEN rnk = 3 THEN term END) AS t3,
         |  CAST(max(CASE WHEN rnk = 1 THEN score END) AS BIGINT)
         |    AS top_score
         |FROM r WHERE rnk <= $KeytermTopK GROUP BY doc_id""".stripMargin,
    // cms1: the oracle recomputes the exact heavy hitters and expects
    // both sketch-contract flags to be identically 1 (x18's
    // tolerance-contract pattern — a sketch drifting past its sizing
    // fails the hash on the flag columns).
    "cms1_heavy_hitters" ->
      s"""WITH t AS (
         |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |f AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
         |  FROM t WHERE length(term) >= $KeytermMinLen GROUP BY 1)
         |SELECT term, exact_cnt,
         |  CAST(1 AS BIGINT) AS lower_ok, CAST(1 AS BIGINT) AS bound_ok
         |FROM f ORDER BY exact_cnt DESC, term LIMIT $CmsTopK""".stripMargin,
    // srch1: the full BM25 pipeline re-derived — same integer
    // rational weight, same corpus-derived two-term query workload.
    "srch1_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |    FROM documents) WHERE length(term) >= $KeytermMinLen),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |       FROM toks GROUP BY 1),
         |stats AS (SELECT CAST(sum(dl) AS BIGINT) AS T,
         |                 CAST(count(*) AS BIGINT) AS D FROM dl),
         |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |qterms AS (
         |  SELECT term, row_number() OVER (ORDER BY df DESC, term) - 10 AS qrank
         |  FROM dfr
         |  QUALIFY row_number() OVER (ORDER BY df DESC, term) BETWEEN 11 AND 20),
         |queries AS (
         |  SELECT qrank AS qid, term FROM qterms
         |  UNION ALL
         |  SELECT CASE WHEN qrank = 10 THEN 1 ELSE qrank + 1 END AS qid, term
         |  FROM qterms),
         |scored AS (
         |  SELECT q.qid, tf.doc_id,
         |    SUM(length(bin((SELECT D FROM stats) // dfr.df)) *
         |        (22 * (SELECT T FROM stats) * tf.tf * 1000000 //
         |         (10 * (SELECT T FROM stats) * tf.tf
         |          + 3 * (SELECT T FROM stats)
         |          + 9 * dl.dl * (SELECT D FROM stats)))) AS score
         |  FROM queries q JOIN tf ON q.term = tf.term
         |  JOIN dfr ON tf.term = dfr.term JOIN dl ON tf.doc_id = dl.doc_id
         |  GROUP BY 1, 2)
         |SELECT qid, doc_id, CAST(score AS BIGINT) AS score,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY score DESC, doc_id) AS rnk
         |      FROM scored) WHERE rnk <= 5""".stripMargin,
    // drf1: same planted marker, same one-pass conditional counts,
    // same DECIMAL-exact chi-square-style contrast.
    "drf1_source_drift" ->
      s"""WITH toks AS (
         |  SELECT source, term FROM (
         |    SELECT source, unnest(regexp_split_to_array(trim(
         |      CASE WHEN source = '$DriftSource'
         |           THEN text || ' $DriftMarker $DriftMarker'
         |           ELSE text END), '\\s+')) AS term
         |    FROM documents) WHERE length(term) >= $KeytermMinLen),
         |c AS (
         |  SELECT term,
         |    CAST(sum(CASE WHEN source = '$DriftSource' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN source <> '$DriftSource' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS b
         |  FROM toks GROUP BY 1),
         |t AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
         |             CAST(sum(b) AS BIGINT) AS tb FROM c)
         |SELECT term, a, b,
         |  CAST((CAST(a AS HUGEINT) * (SELECT tb FROM t)
         |        - CAST(b AS HUGEINT) * (SELECT ta FROM t))
         |     * (CAST(a AS HUGEINT) * (SELECT tb FROM t)
         |        - CAST(b AS HUGEINT) * (SELECT ta FROM t))
         |     // (CAST((SELECT ta FROM t) AS HUGEINT)
         |        * (SELECT tb FROM t))
         |     // (a + b) AS BIGINT) AS score
         |FROM c ORDER BY score DESC, term LIMIT $DriftTopK""".stripMargin
  )
}
