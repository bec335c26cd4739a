package graft.corpus

import graft.Tables
import graft.ops.{LlmOps, TrainOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** End-to-end corpus-preparation CLI — the LLM-pipeline counterpart to
  * `graft.ingest.Main` (which is the fits2db argv surface). Composes the
  * GATED operators into the standard prep chain:
  *
  *   quality filter (i29) → near-dup drop (i10 pair semantics, or
  *   i39+i40 keep-longest component semantics via `--dedup keepbest`) →
  *   media dedup (optional `--media dedup[=image,audio,video]` — per
  *   selected modality: image = m5 exact + m9 perceptual (drops
  *   non-canonical exact copies and perceptual pair b-sides), audio =
  *   m10 acoustic pair b-sides, video = m11 keyframe-containment pair
  *   b-sides; per-modality drop counts in the manifest) →
  *   benchmark decontamination (i24, optional `--decontam <benchDir>`) →
  *   substring scrub (i41 core, optional `--scrub substring` — rewrites
  *   text: excises tokens covered by cross-document duplicated spans) →
  *   perplexity gate (i49 policy, optional `--ppl ccnet` — LM learned
  *   from the kept corpus; keep head, hash-half of middle, drop tail) →
  *   mixture resampling (i48 core, optional `--mix uniform` — equal-share
  *   targets over the kept set's lang histogram; drops over-share docs,
  *   attaches integer n_copies) →
  *   split assignment (i20) → shard + dense position (i21) →
  *   global training order (i51/i55 cores, optional `--shuffle
  *   hash|curriculum` — attaches the deterministic shuffled or
  *   easy→hard train_pos) →
  *   partitioned parquet write + JSON manifest →
  *   retrieval chunks (i58 core, optional `--chunks write` — emits
  *   `<out>/chunks.parquet` from the written post-scrub text) →
  *   BPE tokenization (i60 core, optional `--tokenize bpe` — learns a
  *   byte-fallback BPE vocab + merge table FROM the written corpus and
  *   emits `<out>/tokens.parquet` (doc_id, n_pieces, pieces); hex-byte
  *   symbols mean every kept doc encodes, OOV-free) →
  *   post-write profile (b19 core, optional `--profile write` — emits
  *   `<out>/profile.parquet` and FAILS the run if any column's sketch
  *   leaves its ±5% envelope: the corpus-certification gate) →
  *   ANN index artifact (i61/i67 cores, optional `--ann write` — emits
  *   `<out>/ann_index.parquet`, the codes-only SQ8 table over the KEPT
  *   corpus's embeddings partitioned by LEARNED k-means cells (r11:
  *   CorpusOps.lloydModel is the coarse quantizer; i67 certifies the
  *   recall win over metadata cells), plus
  *   `<out>/ann_centroids.parquet`, the k×64 cell-ranking artifact;
  *   vector/cell/saturation/maxabs stats in the manifest — the RAG
  *   handoff beside the training corpus — then CERTIFIES the written
  *   index with the i65 measurement: recall@10 of the pruned chain on
  *   a deterministic query sample lands in the manifest
  *   (ann_recall_*), recorded not gated — the floor is the consumer's
  *   policy — and ships the policy input: the i66 curve at nprobe ∈
  *   {1,2,4} goes to `<out>/ann_sweep.parquet` + manifest
  *   (ann_sweep_np*_recall_micro) so the consumer picks nprobe from
  *   the artifact; r11 adds the PQ rung beside it —
  *   `<out>/ann_pq_codes.parquet` + `<out>/ann_pq_codebook.parquet`
  *   (i69's 8-code ADC layout over the same kept corpus) certified by
  *   the same query-sample rule into ann_pq_recall_*, so the manifest
  *   prices the SQ8→PQ compression in recall like-for-like)
  *
  * No stage re-implements operator logic: the quality verdict, dup pairs
  * and containment flags come from the same shared helpers the gated
  * `OpQuery.fn`s instantiate (`qualitySignals`/`qualityVerdict`,
  * `minhashVerifiedPairs`, `containmentFlags`), so the pipeline inherits
  * their oracles — at default thresholds each stage is bit-equal to its
  * gated operator. Thresholds are CLI flags (`--min-tokens`,
  * `--max-dup-frac`, `--max-top-bigram`, `--min-quality`, `--dedup-tau`,
  * `--min-containment`); defaults are the gate constants.
  *
  * Output layout mirrors the input table layout
  * (`<out>/documents.parquet/split=…`), so every gated operator —
  * including i10 and i24 themselves — can run ON the pipeline's output
  * (PrepPipelineSpec proves the kept set pair-free and, with --decontam,
  * bench-overlap-free that way).
  *
  * Dedup/decontam semantics: drop sets are keyed on the FULL corpus,
  * independent of earlier verdicts. That over-drops a doc whose only
  * duplicate partner was already quality-dropped — deliberate: dedup must
  * never under-drop, and making drops a function of corpus content alone
  * keeps each stage idempotent and order-independent.
  *
  * Scale posture: counts in the manifest are the only driver-side data
  * (a fixed handful of longs); everything else is joins on doc_id —
  * broadcast-able drop/verdict sides at gate scale, plain shuffles at
  * 100 TB — and one partitioned write. The shard ordinal window partitions
  * by shard (64-way parallel, same shape i21 documents).
  */
object PrepMain {

  final case class Opts(in: String, out: String, dedup: String,
      dedupTau: Double = 0.8, decontam: Option[String] = None,
      minContainment: Double = 0.8,
      // Some(c) = DF-capped shingle index (the i45 core; linear-cost
      // against a corpus-sized bench dir), None = exact uncapped i24
      // metric (--decontam-cap none; only safe for KB-sized bench sides)
      decontamCap: Option[Int] = Some(LlmOps.DecontamCap),
      // defaults ARE the gate constants — one definition (LlmOps)
      minTokens: Long = LlmOps.QMinTok,
      maxDupFrac: Double = LlmOps.QMaxDupFrac,
      maxTopBigram: Double = LlmOps.QMaxTopBigram,
      minQuality: Double = LlmOps.QMinQuality, scrub: String = "none",
      scrubSpan: Int = 8, scrubMinDocs: Int = 2,
      // "dedup" drops non-canonical image copies: every m5 keep=false doc
      // (exact decoded-raster fingerprint groups) plus the b-side of
      // every m9 perceptual pair (the i10 pair convention); "none" skips
      media: String = "none",
      // "uniform" applies the i48 equal-share mixture resampler to the
      // kept set (drops over-share docs, attaches n_copies); "none" skips
      mix: String = "none",
      // "ccnet" applies the i49 perplexity policy to the kept set (LM
      // learned from the kept corpus itself; keep head, hash-half of
      // middle, drop tail); "none" skips
      ppl: String = "none",
      // "hash" attaches the i51 deterministic global training order;
      // "curriculum" the i55 easy->hard order (unscoreable docs last);
      // "none" skips
      shuffle: String = "none",
      // "write" additionally emits <out>/chunks.parquet — the i58 core
      // over the FINAL kept text (post-scrub), the retrieval-corpus
      // artifact beside the training corpus; "none" skips
      chunks: String = "none",
      // "bpe" additionally emits <out>/tokens.parquet — the i60
      // byte-fallback BPE core over the FINAL kept text: vocab + merge
      // table learned from the written corpus itself, every token
      // encodes (OOV-free hex-byte symbols); "none" skips
      tokenize: String = "none",
      // "write" additionally emits <out>/profile.parquet — the b19
      // sketch profile of the WRITTEN corpus (per-column nulls,
      // distincts, min/max, sketch-health predicate); the run FAILS if
      // any column's sketch leaves its ±5% envelope; "none" skips
      profile: String = "none",
      // "write" additionally emits <out>/ann_index.parquet (the i67
      // codes-only SQ8 table partitioned by LEARNED k-means cells) +
      // ann_centroids.parquet (the k×64 cell-ranking artifact) +
      // ann_sweep.parquet (the i66 recall-vs-nprobe curve) over the
      // KEPT corpus's embeddings — the RAG handoff beside the training
      // corpus, with vector/cell/saturation/maxabs/recall stats in the
      // manifest; "opq" = write PLUS the CONDITIONAL OPQ rung (the
      // variance profile decides: rotated artifact + certification only
      // when the natural subspace grouping is skewed; the decision and
      // its skew statistic always land in the manifest); "none" skips
      ann: String = "none",
      // IVF cell count for the --ann artifact: 0 (default) = auto-size
      // from the kept corpus (k = sqrt(N), LlmOps.ivfAutoK — the
      // standard IVF balance: probe cost ~ nprobe*sqrt(N)); a tuned
      // deployment passes an explicit k
      annK: Int = 0)

  private val flagNames = Set("--in", "--out", "--dedup", "--dedup-tau",
    "--decontam", "--decontam-cap", "--min-containment", "--min-tokens",
    "--max-dup-frac", "--max-top-bigram", "--min-quality", "--scrub",
    "--scrub-span", "--scrub-min-docs", "--media", "--mix", "--ppl",
    "--shuffle", "--chunks", "--tokenize", "--profile", "--ann",
    "--ann-k")

  /** `--media dedup` = all three modalities; `--media dedup=image,audio`
    * selects a subset. Empty for anything malformed — the parse require
    * turns that into the usage error.
    */
  private[graft] def mediaModalities(v: String): Set[String] = {
    val all = Set("image", "audio", "video")
    if (v == "dedup") all
    else if (v.startsWith("dedup=")) {
      val mods = v.stripPrefix("dedup=").split(",").filter(_.nonEmpty).toSet
      if (mods.nonEmpty && mods.subsetOf(all)) mods else Set.empty
    } else Set.empty
  }

  def parse(args: Array[String]): Opts = {
    var o = Opts(in = "", out = "", dedup = "minhash")
    var i = 0
    while (i < args.length) {
      val flag = args(i)
      if (!flagNames(flag))
        throw new IllegalArgumentException(s"unknown flag: $flag")
      if (i + 1 >= args.length)
        throw new IllegalArgumentException(s"$flag needs a value")
      val v = args(i + 1)
      flag match {
        case "--in" => o = o.copy(in = v)
        case "--out" => o = o.copy(out = v)
        case "--dedup" => o = o.copy(dedup = v)
        case "--dedup-tau" => o = o.copy(dedupTau = v.toDouble)
        case "--decontam" => o = o.copy(decontam = Some(v))
        case "--decontam-cap" =>
          o = o.copy(decontamCap = if (v == "none") None else Some(v.toInt))
        case "--min-containment" => o = o.copy(minContainment = v.toDouble)
        case "--min-tokens" => o = o.copy(minTokens = v.toLong)
        case "--max-dup-frac" => o = o.copy(maxDupFrac = v.toDouble)
        case "--max-top-bigram" => o = o.copy(maxTopBigram = v.toDouble)
        case "--min-quality" => o = o.copy(minQuality = v.toDouble)
        case "--scrub" => o = o.copy(scrub = v)
        case "--scrub-span" => o = o.copy(scrubSpan = v.toInt)
        case "--scrub-min-docs" => o = o.copy(scrubMinDocs = v.toInt)
        case "--media" => o = o.copy(media = v)
        case "--mix" => o = o.copy(mix = v)
        case "--ppl" => o = o.copy(ppl = v)
        case "--shuffle" => o = o.copy(shuffle = v)
        case "--chunks" => o = o.copy(chunks = v)
        case "--tokenize" => o = o.copy(tokenize = v)
        case "--profile" => o = o.copy(profile = v)
        case "--ann" => o = o.copy(ann = v)
        case "--ann-k" => o = o.copy(annK = if (v == "auto") 0 else v.toInt)
      }
      i += 2
    }
    require(o.in.nonEmpty && o.out.nonEmpty,
      "usage: --in <tableDir> --out <dir> [--dedup minhash|keepbest|none] " +
        "[--dedup-tau t>=0.8] [--decontam <benchDir>] " +
        "[--decontam-cap n>=1|none] [--min-containment t] " +
        "[--min-tokens n] [--max-dup-frac f] [--max-top-bigram f] [--min-quality q] " +
        "[--scrub substring|none] [--scrub-span k>=2] [--scrub-min-docs n>=2] " +
        "[--media dedup[=image,audio,video]|none] " +
        "[--mix uniform|none] [--ppl ccnet|none] [--shuffle hash|curriculum|none] " +
        "[--chunks write|none] [--tokenize bpe|none] " +
        "[--ann write|opq|none] [--ann-k auto|n>=2]")
    require(Set("minhash", "keepbest", "none")(o.dedup),
      s"--dedup must be minhash|keepbest|none, got ${o.dedup}")
    require(Set("ccnet", "none")(o.ppl),
      s"--ppl must be ccnet|none, got ${o.ppl}")
    require(Set("hash", "curriculum", "none")(o.shuffle),
      s"--shuffle must be hash|curriculum|none, got ${o.shuffle}")
    require(Set("substring", "none")(o.scrub),
      s"--scrub must be substring|none, got ${o.scrub}")
    require(Set("uniform", "none")(o.mix),
      s"--mix must be uniform|none, got ${o.mix}")
    require(o.media == "none" || mediaModalities(o.media).nonEmpty,
      s"--media must be dedup[=image,audio,video subset]|none, got ${o.media}")
    require(Set("write", "none")(o.chunks),
      s"--chunks must be write|none, got ${o.chunks}")
    require(Set("bpe", "none")(o.tokenize),
      s"--tokenize must be bpe|none, got ${o.tokenize}")
    require(Set("write", "none")(o.profile),
      s"--profile must be write|none, got ${o.profile}")
    require(Set("write", "opq", "none")(o.ann),
      s"--ann must be write|opq|none, got ${o.ann}")
    require(o.annK == 0 || o.annK >= 2,
      s"--ann-k must be auto or an integer >= 2, got ${o.annK}")
    // only meaningful when the scrub stage actually runs (the --dedup-tau
    // convention): k = 1 would excise every repeated TOKEN, min-docs = 1
    // every document
    require(o.scrub == "none" || (o.scrubSpan >= 2 && o.scrubMinDocs >= 2),
      s"--scrub-span and --scrub-min-docs must be >= 2, " +
        s"got ${o.scrubSpan}/${o.scrubMinDocs}")
    // only meaningful when an LSH stage actually runs: --dedup none with a
    // stray tau must not be rejected for a disabled stage
    require(o.dedup == "none" || o.dedupTau >= 0.8,
      s"--dedup-tau must be >= 0.8 (LSH banding recall bound), got ${o.dedupTau}")
    // cap = 0 would empty the index (every shingle is in >= 1 bench doc
    // whenever it is in the index at all), silently disabling decontam
    require(o.decontamCap.forall(_ >= 1),
      s"--decontam-cap must be >= 1 or 'none', got ${o.decontamCap.get}")
    o
  }

  /** Runs the pipeline; returns the manifest counts (also written to
    * `<out>/manifest.json`).
    */
  def run(spark: SparkSession, opts: Opts): Map[String, Long] = {
    val docs = Tables.t(spark, opts.in, "documents")
    val nInput = docs.count()

    // -- stage 1: quality (i29 signals + shared verdict; "keep" survives) --
    val verdicts = LlmOps.qualitySignals(spark, opts.in)
      .withColumn("verdict", LlmOps.qualityVerdict(opts.minTokens,
        opts.maxDupFrac, opts.maxTopBigram, opts.minQuality))
      .select(col("doc_id"), col("verdict"))
    val verdictCounts = verdicts.groupBy("verdict").count()
      .collect().map(r => s"verdict_${r.getString(0)}" -> r.getLong(1)).toMap
    // each stage frame feeds its own count PLUS every later stage — persist
    // (MEMORY_AND_DISK, the component-loop convention) or the direct
    // per-stage counts below re-execute the whole upstream lineage ~5×
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val keptQuality = docs.join(
      broadcast(verdicts.filter(col("verdict") === "keep").select("doc_id")), "doc_id")
      .persist(lvl)
    val nQualityKept = keptQuality.count()

    // -- stage 2: near-dup drop ------------------------------------------
    // minhash:  i10's pair semantics — every pair (a < b) drops b.
    // keepbest: i39+i40's component semantics — cluster the pairs into
    //           components and drop everything but each cluster's LONGEST
    //           member (the policy real pipelines ship: truncated copies
    //           are the ones to lose). Both are corpus-keyed (idempotent).
    // optional stages persist-and-register here; unpersisted at the end
    val extraPersists = scala.collection.mutable.Buffer.empty[DataFrame]
    val dupDrops0: DataFrame = opts.dedup match {
      case "minhash" => LlmOps.minhashVerifiedPairs(spark, opts.in, opts.dedupTau)
        .select(col("b_id").as("doc_id")).distinct()
      case "keepbest" =>
        val edges = LlmOps.minhashVerifiedPairs(spark, opts.in, opts.dedupTau)
          .select(col("a_id"), col("b_id"))
        val labels = LlmOps.connectedComponents(spark, edges)
          .withColumnRenamed("node_id", "doc_id")
        // only edge-touching docs can be non-canonical; pick each
        // component's keeper by (n_chars DESC, doc_id) as i40 does
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lbl").orderBy(col("n_chars").desc, col("doc_id").asc)
        docs.select(col("doc_id"), col("n_chars"))
          .join(labels, "doc_id")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") > 1)
          .select("doc_id")
      case _ => spark.range(0).select(col("id").as("doc_id"))
    }
    // persisted: read by the anti-join AND the manifest count below —
    // without it the LSH band join + Jaccard verify (and for keepbest
    // the whole component pipeline) would execute twice
    val dupDrops = dupDrops0.persist(lvl)
    val keptDedup = keptQuality.join(broadcast(dupDrops), Seq("doc_id"), "left_anti")
      .persist(lvl)
    val nAfterDedup = keptDedup.count()

    // -- stage 2.7: media dedup (m5/m9/m10/m11 semantics, optional) --------
    // The multimodal analog of stage 2, composing the GATED ops verbatim
    // so the stage inherits their oracles, one drop set per modality:
    //   image — m5's exact decoded-raster fingerprint groups drop every
    //     non-canonical member (keep = false) and m9's perceptual pairs
    //     drop the b-side;
    //   audio — m10's acoustic near-dup pairs drop the b-side;
    //   video — m11's keyframe-containment pairs drop the b-side.
    // The i10 pair convention throughout: any surviving pair (a, b) would
    // have dropped b, so the kept set is pair-free under every selected
    // hash — PrepPipelineSpec re-runs all four ops on the output to prove
    // it. Corpus-keyed on the full input like every drop stage
    // (idempotent, order-independent); only doc_id + fingerprints
    // shuffle, pixels/PCM/frames stay inside the codec maps.
    val mediaMods: Set[String] =
      if (opts.media == "none") Set.empty else mediaModalities(opts.media)
    def pairBs(pairs: DataFrame): DataFrame =
      pairs.select(col("b_id").as("doc_id")).distinct()
    val M = graft.ops.MultimodalOps
    val (imageDrops, imgClustersLost): (Option[DataFrame], Long) =
      if (!mediaMods("image")) (None, 0L)
      else {
        val m5out = M.m5_image_dedup.fn(spark, opts.in).persist(lvl)
        val near = pairBs(M.m9_image_near_dup.fn(spark, opts.in)).persist(lvl)
        extraPersists += m5out; extraPersists += near
        // ADVICE r8: when m5's kept canonical is itself an m9 b-side,
        // every member of its exact cluster drops — the content survives
        // only as its perceptual a-side twin. Deliberate (the twin IS the
        // near-duplicate representative), but counted in the manifest so
        // a pipeline can alert on unexpected total-loss mass.
        val lost = m5out.filter(col("keep") && col("n_dups") >= 2)
          .join(near, Seq("doc_id"), "left_semi").count()
        val exact = m5out.filter(!col("keep")).select("doc_id")
        (Some(exact.unionByName(near).distinct()), lost)
      }
    val audioDrops: Option[DataFrame] =
      if (mediaMods("audio")) Some(pairBs(M.m10_audio_near_dup.fn(spark, opts.in)))
      else None
    val videoDrops: Option[DataFrame] =
      if (mediaMods("video"))
        Some(pairBs(M.m11_video_near_dup.fn(spark, opts.in).select("a_id", "b_id")))
      else None
    val modDrops: Seq[(String, DataFrame)] =
      (imageDrops.map("image" -> _) ++ audioDrops.map("audio" -> _) ++
        videoDrops.map("video" -> _)).toSeq
        .map { case (m, df) => m -> df.persist(lvl) }
    modDrops.foreach { case (_, df) => extraPersists += df }
    val mediaDrops = (modDrops.map(_._2) match {
      case Nil => spark.range(0).select(col("id").as("doc_id"))
      case dfs => dfs.reduce(_ unionByName _).distinct()
    }).persist(lvl) // read by the anti-join AND the manifest count
    val keptMedia =
      if (mediaMods.isEmpty) keptDedup
      else {
        val k = keptDedup.join(broadcast(mediaDrops), Seq("doc_id"), "left_anti")
          .persist(lvl)
        extraPersists += k
        k
      }
    val nAfterMedia = if (mediaMods.isEmpty) nAfterDedup else keptMedia.count()
    val mediaCounts: Map[String, Long] =
      if (mediaMods.isEmpty) Map.empty
      else Map("n_media_dropped" -> (nAfterDedup - nAfterMedia),
        "n_media_members_corpus" -> mediaDrops.count()) ++
        modDrops.map { case (m, df) => s"n_media_members_$m" -> df.count() } ++
        (if (mediaMods("image"))
          Map("n_media_img_clusters_lost" -> imgClustersLost)
        else Map.empty)

    // -- stage 3: benchmark decontamination (i24 containment, optional) ----
    val decontamDrops: DataFrame = (opts.decontam match {
      case Some(benchDir) =>
        val bench = Tables.t(spark, benchDir, "documents")
        // broadcastBench = false: this bench dir is arbitrary user input,
        // not the gated fixture — see containmentFlags. The DF cap
        // (default LlmOps.DecontamCap, i45's core) bounds the inverted-
        // index join output linearly even when the bench dir is itself
        // corpus-sized — the superlinear i24 regime the r4 ladder
        // measured; `--decontam-cap none` restores the exact metric.
        LlmOps.containmentFlags(docs, bench, opts.minContainment,
          broadcastBench = false, cap = opts.decontamCap)
          .select(col("train_id").as("doc_id")).distinct()
      case None => spark.range(0).select(col("id").as("doc_id"))
    }).persist(lvl) // same two-reader shape as dupDrops
    val kept = keptMedia.join(broadcast(decontamDrops), Seq("doc_id"), "left_anti")
      .persist(lvl)
    val nAfterDecontam = kept.count()

    // -- stage 3.5: substring scrub (i41 core, optional) -------------------
    // Rewrites TEXT rather than dropping documents: every token covered by
    // a scrub-span occurring in >= scrub-min-docs distinct KEPT documents
    // is excised (i41's exact semantics via the same substringScrub core).
    // Runs LAST among the content stages, over the kept set, so the
    // doc-level drop stages above stay corpus-keyed and idempotent; a doc
    // scrubbed to empty text remains a (empty) document — quality is not
    // re-run. n_chars is recomputed from the rewritten text.
    val (keptFinal, scrubCounts) = opts.scrub match {
      case "substring" =>
        val sc = graft.ops.CorpusOps.substringScrub(
          kept.where(col("text").isNotNull)
            // expr-form: the `split` name is shadowed by stage 4's frame
            .select(col("doc_id"), expr("split(text, ' ')").as("toks")),
          k = opts.scrubSpan, minDocs = opts.scrubMinDocs)
          .persist(lvl)
        extraPersists += sc
        val agg = sc.agg(
          coalesce(sum(col("n_dup_tokens")), lit(0L)),
          coalesce(sum(when(col("n_dup_tokens") > 0, 1L).otherwise(0L)), lit(0L)))
          .head() // bounded: one 2-long row (the manifest-count pattern)
        // left join + coalesce: a NULL-text doc has no scrub row but must
        // SURVIVE the stage unchanged (an inner join would silently drop
        // it and trip the split/shard coverage require below)
        val rewritten = kept
          .join(sc.select(col("doc_id"), col("text_kept")), Seq("doc_id"), "left")
          .withColumn("text", coalesce(col("text_kept"), col("text")))
          .drop("text_kept")
          .withColumn("n_chars", when(col("text").isNotNull,
            length(col("text")).cast(LongType)).otherwise(col("n_chars")))
        (rewritten, Map(
          "n_scrub_tokens_dropped" -> agg.getLong(0),
          "n_scrub_docs_touched" -> agg.getLong(1)))
      case _ => (kept, Map.empty[String, Long])
    }

    // -- stage 3.6: perplexity gate (i49 policy, optional) -----------------
    // The CCNet recipe over the KEPT set: the bigram LM is learned from
    // what survived the earlier stages (scrubbed text included — the LM
    // should not learn from boilerplate the scrub just excised), every
    // scoreable doc is ranked and bucketed head/middle/tail, the tail
    // and the hash-dropped middle half leave. Unscoreable docs (NULL
    // text, < 2 tokens) SURVIVE unchanged — the scrub stage's
    // NULL-survival convention: the gate only applies where a score
    // exists (the quality stage already polices degenerate docs).
    val (keptPpl, nAfterPpl, pplCounts) = opts.ppl match {
      case "ccnet" =>
        val scores = graft.ops.CorpusOps.docScoresOf(keptFinal)
          .select(col("doc_id"), col("mean_lp_micro"))
          .localCheckpoint() // read twice inside perplexityBuckets
        val verd = graft.ops.CorpusOps.perplexityBuckets(scores).persist(lvl)
        extraPersists += verd
        val bucketCounts = verd.groupBy("bucket").count()
          .collect().map(r => s"ppl_${r.getString(0)}" -> r.getLong(1)).toMap
        val drops = verd.filter(!col("keep")).select("doc_id")
        val out = keptFinal.join(broadcast(drops), Seq("doc_id"), "left_anti")
          .persist(lvl)
        extraPersists += out
        val n = out.count()
        (out, n, bucketCounts + ("n_ppl_dropped" -> (nAfterDecontam - n)))
      case _ => (keptFinal, nAfterDecontam, Map.empty[String, Long])
    }

    // -- stage 3.7: mixture resampling (i48 core, optional) ----------------
    // Applies the equal-share mixture to the KEPT set: over-share docs of
    // over-represented langs drop (hash-rank selection — idempotent and
    // stable like every other stage), every surviving doc carries its
    // integer n_copies (1 for downsampled langs, up to 3 for upsampled —
    // the training loader repeats rather than this stage materializing
    // copies, so the written corpus stays deduplicated). Shares derive
    // from the kept set's lang histogram: the mixture targets what the
    // earlier stages actually kept, not the raw input.
    val (keptMixed, nAfterMix, mixCounts) = opts.mix match {
      case "uniform" =>
        // NULL lang becomes its own stratum via a sentinel key BEFORE the
        // core runs: mixApply groups/windows/joins on lang equality, and
        // NULL never equi-joins — without the sentinel every NULL-lang
        // doc would silently vanish from the output (mislabeled as an
        // over-share drop) and `total` would count rows that n_langs
        // doesn't, skewing every real lang's share. The gated i48 runs on
        // the NULL-free fixture; arbitrary CLI input has no such contract.
        val sel = TrainOps.mixApply(keptPpl.select(col("doc_id"),
            coalesce(col("lang"), lit("\u0000null_lang")).as("lang")))
          .select(col("doc_id"), col("n_copies"))
          .persist(lvl) // read by the join AND the effective-total count
        extraPersists += sel
        val mixed = keptPpl.join(sel, "doc_id").persist(lvl)
        extraPersists += mixed
        val n = mixed.count()
        val eff = sel.agg(coalesce(sum(col("n_copies")), lit(0L)))
          .head().getLong(0) // bounded: one long (the manifest pattern)
        (mixed, n, Map(
          "n_mix_dropped" -> (nAfterPpl - n),
          "mix_effective_total" -> eff))
      case _ => (keptPpl, nAfterPpl, Map.empty[String, Long])
    }

    // -- stage 4: split + shard addresses ----------------------------------
    val split = TrainOps.i20_train_split.fn(spark, opts.in).select("doc_id", "split")
    val shard = TrainOps.i21_shard_assign.fn(spark, opts.in).select("doc_id", "shard")
    // i21's dense per-shard ordinal, recomputed over the KEPT set so output
    // addresses have no gaps (same window shape: parallel across shards)
    val addressed0 = keptMixed.join(split, "doc_id").join(shard, "doc_id")
      .withColumn("pos", row_number()
        .over(Window.partitionBy("shard").orderBy("doc_id")).cast(LongType))
    // -- stage 4.5: global training order (i51/i55 cores, optional) --------
    // `--shuffle hash` attaches train_pos — the deterministic global
    // shuffle over the KEPT set (the i51 two-pass rank; dense 1..n_final).
    // `--shuffle curriculum` orders easy→hard instead (the i55 core:
    // LM-difficulty buckets contiguous, hash-shuffled within); docs the
    // LM cannot score (NULL text, < 2 tokens — the --ppl survival
    // convention) go LAST, in their own deterministic hash order, so the
    // position set stays a dense 1..n_final permutation. The training
    // loader sorts by train_pos; the write stays partitioned by
    // split/shard, so order and storage layout remain independent
    // decisions. Coverage is preserved by construction and the
    // nAddressed require below still proves it.
    val addressed = opts.shuffle match {
      case "hash" => addressed0.join(
        TrainOps.globalShuffleOrder(keptMixed.select("doc_id"))
          .select("doc_id", "train_pos"), "doc_id")
      case "curriculum" =>
        val scored = graft.ops.CorpusOps.curriculumOrder(
            keptMixed.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("cur_pos"))
          .persist(lvl) // read by the count AND both joins below
        extraPersists += scored
        val nScored = scored.count() // bounded: one long (manifest pattern)
        val unscored = keptMixed.select("doc_id")
          .join(broadcast(scored.select("doc_id")), Seq("doc_id"), "left_anti")
        val tail = TrainOps.globalShuffleOrder(unscored)
          .select(col("doc_id"), (col("train_pos") + nScored).as("cur_pos"))
        addressed0.join(
          scored.unionByName(tail).withColumnRenamed("cur_pos", "train_pos"),
          "doc_id")
      case _ => addressed0
    }
    // the split/shard inner joins must COVER the kept set — a partial
    // doc_id surface in i20/i21 output would otherwise lose rows silently
    // and the loss would masquerade as a stage drop in the manifest
    val nAddressed = addressed.count()
    require(nAddressed == nAfterMix,
      s"split/shard coverage gap: $nAfterMix kept docs, $nAddressed addressed")

    addressed.write.mode("overwrite").partitionBy("split")
      .parquet(s"${opts.out}/documents.parquet")

    // direct read, NOT Tables.t: the handle cache assumes immutable dirs,
    // and this dir was just overwritten (possibly again in the same JVM)
    val written = spark.read.parquet(s"${opts.out}/documents.parquet")
    val splitCounts = written.groupBy("split").count()
      .collect().map(r => s"split_${r.getString(0)}" -> r.getLong(1)).toMap

    // every stage's drop count is measured DIRECTLY at that stage (not
    // inferred from end-to-end differences), so the manifest attributes
    // each dropped doc to the stage that actually dropped it
    val nFinal = written.count()
    require(nFinal == nAfterMix,
      s"write round-trip lost rows: $nAfterMix in, $nFinal back")

    // -- stage 6: retrieval chunks (i58 core, optional) --------------------
    // Chunked from the WRITTEN corpus (post-scrub text, the round-trip the
    // require above just certified), so the chunk artifact can never
    // diverge from the training corpus beside it; (doc_id, chunk_id) keys
    // are the i58 pure function — re-running the pipeline upserts
    // idempotently into a vector store.
    val chunkCounts: Map[String, Long] = opts.chunks match {
      case "write" =>
        graft.ops.CorpusOps.chunksOf(written)
          .write.mode("overwrite").parquet(s"${opts.out}/chunks.parquet")
        val ch = spark.read.parquet(s"${opts.out}/chunks.parquet")
        Map("n_chunks" -> ch.count(),
          "n_chunked_docs" -> ch.select("doc_id").distinct().count())
      case _ => Map.empty
    }

    // -- stage 7: BPE tokenization (i60 core, optional) ---------------------
    // Tokenized from the WRITTEN corpus like the chunks stage, so the
    // token artifact is exactly the training corpus's encoding. The vocab
    // and merge table are learned from the written text itself (the
    // production convention: the tokenizer is trained on the corpus it
    // will encode), and the byte-fallback hex symbols guarantee every
    // token of every kept doc encodes — no OOV row loss between
    // documents.parquet and tokens.parquet (the coverage require below
    // holds by construction for docs with at least one token).
    val tokenCounts: Map[String, Long] = opts.tokenize match {
      case "bpe" =>
        graft.ops.CorpusOps.bpeBytesEncode(written)
          .write.mode("overwrite").parquet(s"${opts.out}/tokens.parquet")
        val tk = spark.read.parquet(s"${opts.out}/tokens.parquet")
        val nTok = tk.count()
        val nNonEmpty = written
          .filter(col("text").isNotNull &&
            size(expr("filter(split(text, ' '), w -> w <> '')")) > 0)
          .count()
        require(nTok == nNonEmpty,
          s"tokenizer coverage gap: $nNonEmpty tokenizable docs, $nTok encoded")
        Map("n_tokenized_docs" -> nTok,
          "n_pieces_total" -> tk.agg(coalesce(sum(col("n_pieces")), lit(0L)))
            .head().getLong(0))
      case _ => Map.empty
    }
    // -- stage 8: post-write profile (b19 core, optional) ------------------
    // The nightly-audit step: profile the WRITTEN corpus with the sketch
    // pass (one Expand-free scan at scale) and FAIL the run if any
    // column's sketch leaves its accuracy envelope — a drifting sketch in
    // the artifact a downstream mixer reads is a silent-corruption risk.
    val profileCounts: Map[String, Long] = opts.profile match {
      case "write" =>
        val profCols = Seq("doc_id", "lang", "source", "n_chars")
        graft.ops.EtlOps.profileSketchFrame(written, profCols)
          .write.mode("overwrite").parquet(s"${opts.out}/profile.parquet")
        val pr = spark.read.parquet(s"${opts.out}/profile.parquet")
        val healthy = pr.filter(col("within_5pct")).count()
        require(healthy == profCols.length,
          s"profile sketch-health: $healthy of ${profCols.length} columns " +
            "inside the 5% envelope — refusing to certify the corpus")
        Map("n_profile_cols" -> healthy)
      case _ => Map.empty
    }
    // -- stage 9: ANN index artifact (i61/i64 cores, optional) --------------
    // The RAG handoff (r9 verdict #3): the KEPT corpus's embeddings —
    // vec_id joins doc_id 1:1, so the index covers exactly the written
    // documents — quantize through the shared SQ8 core and persist in
    // i64's layout (label-partitioned codes-only table + the k×64
    // centroid artifact), the index j21 serves per batch and i63/i64
    // probe. Stats are measured from the WRITTEN artifact and land in
    // the manifest so a loader can sanity-check before serving
    // (saturated codes = the i61 scale-outlier alert).
    val annCounts: Map[String, Long] = opts.ann match {
      case "write" | "opq" =>
        val emb = Tables.t(spark, opts.in, "embeddings")
          .join(written.select(col("doc_id").as("vec_id")), "vec_id")
          .localCheckpoint() // read by the write AND the certification
        val codesDir = s"${opts.out}/ann_index.parquet"
        val centDir = s"${opts.out}/ann_centroids.parquet"
        // write, then CERTIFY what was written (the i65 measurement —
        // recall@10 of the pruned chain over the on-disk artifact vs
        // exact brute force on a deterministic query sample): the
        // manifest carries the recall the index actually serves, so a
        // loader reads its operating point instead of assuming it.
        // Recorded, not gated — the recall floor is the consumer's
        // policy — and the POLICY INPUT ships too (r10 verdict #2):
        // annSweep writes the (nprobe, recall) curve to
        // ann_sweep.parquet beside the index and its micro-recalls to
        // the manifest, so the consumer picks nprobe from the artifact
        // instead of re-deriving i66.
        // annSweep's np=2 rung IS the certification, so one call (one
        // brute-force truth) yields both ann_recall_* and ann_sweep_*
        // the PQ rung ships BESIDE the SQ8 index (r11): same kept
        // corpus, same certification truth convention, ~6× smaller
        // codes — the manifest's ann_pq_recall_at10_micro vs
        // ann_recall_at10_micro is the like-for-like compression cost
        // the residual rung (r12) rides the SAME cell artifacts, so the
        // manifest's ann_rpq_recall_* vs ann_pq_recall_* vs ann_recall_*
        // prices the whole compression ladder on one truth convention
        LlmOps.annWriteArtifact(emb, codesDir, centDir, opts.annK) ++
          LlmOps.annSweep(emb, codesDir, centDir,
            s"${opts.out}/ann_sweep.parquet") ++
          LlmOps.pqWriteArtifact(emb,
            s"${opts.out}/ann_pq_codes.parquet",
            s"${opts.out}/ann_pq_codebook.parquet") ++
          LlmOps.pqrWriteArtifact(emb, codesDir, centDir,
            s"${opts.out}/ann_rpq_codes.parquet",
            s"${opts.out}/ann_rpq_codebook.parquet",
            // the residual rung ships ITS OWN curve + operating point
            // (ann_rpq_sweep_* / ann_rpq_op_*): the deployment serves
            // the residual chain, so its nprobe decision must be taken
            // on the residual curve, not the SQ8 rung's (r13 verdict #1)
            s"${opts.out}/ann_rpq_sweep.parquet") ++
          // the CONDITIONAL OPQ rung (r13 verdict #7): measured on this
          // corpus's variance profile — the manifest records the skew
          // and the decision either way; the rotated artifact +
          // certification exist only when the profile says it pays
          (if (opts.ann == "opq")
            LlmOps.opqDecideArtifact(emb, codesDir, centDir,
              s"${opts.out}/ann_opq_codes.parquet",
              s"${opts.out}/ann_opq_codebook.parquet")
          else Map.empty)
      case _ => Map.empty
    }
    val manifest: Map[String, Long] = Map(
      "n_input" -> nInput,
      "n_quality_kept" -> nQualityKept,
      "n_dedup_dropped" -> (nQualityKept - nAfterDedup),
      "n_decontam_dropped" -> (nAfterMedia - nAfterDecontam),
      "n_dup_members_corpus" -> dupDrops.count(),
      "n_contaminated_corpus" -> decontamDrops.count(),
      "n_final" -> nFinal) ++ verdictCounts ++ splitCounts ++ scrubCounts ++
      mediaCounts ++ pplCounts ++ mixCounts ++ chunkCounts ++ tokenCounts ++
      profileCounts ++ annCounts
    val json = manifest.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": $v""" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(opts.out))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${opts.out}/manifest.json"), json)
    keptQuality.unpersist(blocking = false)
    keptDedup.unpersist(blocking = false)
    kept.unpersist(blocking = false)
    dupDrops.unpersist(blocking = false)
    mediaDrops.unpersist(blocking = false)
    decontamDrops.unpersist(blocking = false)
    extraPersists.foreach(_.unpersist(blocking = false))
    manifest
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Util.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val manifest = run(spark, opts)
      println(manifest.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    } finally spark.stop()
  }
}
