package graft.ops

import graft.functions.VectorFunctions.dot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The ANN index lifecycle's shared core, written once for every
  * configuration the i61–i85 / j20–j27 keys and PrepMain's `--ann`
  * artifacts run (partitioner: none | label cells | k-means cells;
  * quantizer: SQ8 | PQ | residual PQ | OPQ-permuted residual PQ):
  *
  *  - the artifact layout (`<idx>_cent` centroids, `<idx>_cb` codebook);
  *  - the batched probe: per-query cell cut against the persisted
  *    centroids (with the empty-batch guard), then a codes-only stage 1
  *    ranked by SQ8 approx similarity or by integer ADC lookups;
  *  - the exact re-rank of the stage-1 survivors;
  *  - the brute-force truth and the recall aggregates that certify a
  *    probe against it, per query or per nprobe rung, and the manifest
  *    fields PrepMain ships from them;
  *  - the DuckDB mirrors of the same pieces, as CTE text builders.
  *
  * REPOSE (ICDE 2021) is the partition-and-prune half (cell cut +
  * codes-only stage 1); the EDBT 2020 incremental top-k paper is the
  * reuse-across-queries half (one truth certifies every rung and chain).
  * The single-query literal probes (`LlmOps.sq8CodesTop50`,
  * `LlmOps.codesTopK`, `LlmOps.ivfCellRank`) keep their own plan shape:
  * their stage-1 plans contain no table but the codes (PlanAuditSpec).
  */
object AnnIndex {

  /** The k×64 cell-centroid table (cell, pos, c) beside an index dir. */
  def centDir(idxDir: String): String = idxDir + "_cent"

  /** The PQ codebook (sub, cid, pos, cv_i) beside a codes dir. */
  def cbDir(idxDir: String): String = idxDir + "_cb"

  /** Approx candidates every stage-1 probe keeps per query. */
  val Stage1 = 50

  /** Exact neighbours a certification counts per query (recall@10). */
  val TopK = 10

  /** The nprobe rungs every sweep measures; np = 2 is the operating
    * point a certification reports.
    */
  val Rungs: Seq[Int] = Seq(1, 2, 4)

  /** Size of PrepMain's deterministic certification sample. */
  val CertQueries = 32

  /** The recall a shipped operating point must meet (micro units). */
  val TargetMicro = 500000L

  /** The ×1000 integer grid of a float-array column. The multiply runs
    * in FLOAT, the one quantization convention every grid path and the
    * oracle's `x * 1000` on a FLOAT column share.
    */
  def grid(c: String): Column =
    expr(s"transform($c, x -> CAST(floor(x * 1000) AS BIGINT))")

  /** The maxabs > 0 guard every SQ8 build and guarded query set applies. */
  def kept(e: DataFrame): DataFrame =
    e.withColumn("maxabs", LlmOps.sqMaxAbs).filter(col("maxabs") > 0)

  /** (q_id, qvec) of an embedding frame's rows. */
  def queries(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("q_id"), col("embedding").as("qvec"))

  /** The planted query set, vec_id ≡ 3 (mod 101). */
  def planted(e: DataFrame): DataFrame =
    queries(e.filter(col("vec_id") % 101 === 3))

  /** The deterministic hash-smallest sample of `n` kept vectors that
    * PrepMain certifies its artifacts on. The multiplier deliberately
    * differs from lloydModel's seed multiplier (741103597): with the same
    * ordering the certification queries would BE the k-means seeds —
    * interior points of their own cells — and the shipped recall would
    * overstate what a typical query gets.
    */
  def sampled(emb: DataFrame, n: Int): DataFrame =
    queries(kept(emb)
      .withColumn("skey", pmod(col("vec_id") * lit(2971215073L), lit(1000000007L)))
      .orderBy("skey", "vec_id").limit(n))
      .localCheckpoint() // read by the cell rank, the probe AND the truth

  /** Rows of `df` ranked per query by `score` (ties by vec_id), cut at k. */
  private def topPerQuery(df: DataFrame, score: String, k: Int): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc(score), asc("vec_id"))))
      .filter(col("rk") <= k)

  private val exactSim: Column = round(dot(col("embedding"), col("qvec")), 6)

  // -------- batched probe ---------------------------------------------------

  /** Per-query cell ranking against a centroid frame: rounded csim per
    * (query, cell), window rank ≤ nprobe. Returns (q_id, cell),
    * localCheckpointed because every probe reads it twice (the bounded
    * cell collect + a broadcast join).
    */
  def queryCells(cent: DataFrame, qb: DataFrame, nprobe: Int): DataFrame = {
    val qx = qb.select(col("q_id"), posexplode(col("qvec")).as(Seq("pos", "qv")))
      .withColumn("qv", col("qv").cast("double"))
    cent.join(broadcast(qx), Seq("pos"))
      .groupBy("q_id", "cell")
      .agg(round(sum(col("c") * col("qv")), 6).as("csim"))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("csim"), asc("cell"))))
      .filter(col("rk") <= nprobe).select("q_id", "cell")
      .localCheckpoint()
  }

  /** The cell cut of a batched probe: the per-query cells plus the
    * batch's cell union as a literal list (bounded by k), so the codes
    * scan plans PartitionFilters. None when the batch ranks no cell
    * (every query guard-filtered): isin() with no arguments is an
    * analyzer edge case, so the probe returns no survivors instead.
    */
  private def cellCut(cent: DataFrame, qb: DataFrame,
      nprobe: Int): Option[(DataFrame, Seq[Int])] = {
    val qcells = queryCells(cent, qb, nprobe)
    val cells = qcells.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) None else Some((qcells, cells))
  }

  private def noSurvivors(qb: DataFrame): DataFrame =
    qb.select(col("q_id"), col("q_id").as("vec_id"), col("qvec")).limit(0)

  /** SQ8 stage 1 over a codes table (vec_id, maxabs, qarr[, cell]):
    * approx_sim = (maxabs/127)·Σ qarr_k·qvec_k, window rank ≤ Stage1 per
    * q_id. With `cent` the codes are cell-partitioned and each query
    * scores ONLY its own top-`nprobe` cells (literal partition filter
    * over the batch's cell union, then the per-query cell join); without
    * it every code is scanned. Returns the survivors (q_id, vec_id, qvec).
    */
  def sq8Probe(codes: DataFrame, qb: DataFrame,
      cent: Option[DataFrame] = None, nprobe: Int = 2): DataFrame = {
    val pairs = cent match {
      case None => Some(codes.join(broadcast(qb), col("vec_id") =!= col("q_id")))
      case Some(c) => cellCut(c, qb, nprobe).map { case (qcells, cells) =>
        codes.filter(col("cell").isin(cells: _*))
          .join(broadcast(qcells.join(qb, "q_id")), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
      }
    }
    pairs.fold(noSurvivors(qb))(p => topPerQuery(
      p.withColumn("approx_sim", col("maxabs") / lit(127.0) *
        aggregate(zip_with(col("qarr"), col("qvec"),
          (qc, v) => qc * v.cast("double")), lit(0.0), (a, x) => a + x)),
      "approx_sim", Stage1).select("q_id", "vec_id", "qvec"))
  }

  /** The integer ADC tables of a query batch against a PQ codebook:
    * (q_id, sub, cid, ds) with ds the exact dot of the query's grid
    * subvector `sub` with codeword (sub, cid). Q × m·k rows — the batch
    * against the constant-size codebook, broadcastable at any corpus size.
    */
  def adcTables(cb: DataFrame, qb: DataFrame, qgrid: Column): DataFrame = {
    val qx = qb.select(col("q_id"), posexplode(qgrid).as(Seq("p0", "qv")))
      .withColumn("sub", expr(s"p0 DIV ${LlmOps.PqDsub}"))
      .withColumn("pos", expr(s"p0 % ${LlmOps.PqDsub}"))
    cb.join(broadcast(qx), Seq("sub", "pos"))
      .groupBy("q_id", "sub", "cid")
      .agg(sum(col("cv_i") * col("qv")).as("ds"))
  }

  /** Batched ADC stage 1 over a PQ codes table (vec_id, codes[, cell]):
    * approx_i = Σ_sub ds per (query, vector), window rank ≤ Stage1 per
    * q_id. What the caller passes picks the index shape:
    *  - `cent`: cell-partitioned codes; each query scores only its own
    *    top-`nprobe` cells (literal partition filter over the batch's
    *    cell union, then the per-query cell join);
    *  - `residual` (with `cent`): residual codes; the per-(query, cell) centroid dot
    *    q·c re-bases the residual scores across cells (q·v = q·c + q·r);
    *  - `perm`: the OPQ permutation; the ADC tables are built from the
    *    permuted grid while the cell rank and centroid term stay on the
    *    original axes (a permutation preserves q·c exactly);
    *  - `tombstones`: deleted vec_ids, anti-joined out of the codes scan
    *    BEFORE the rank window (a cut before the filter would return
    *    short exactly when a deleted vector ranked high).
    * Everything joined against the N-sized codes scan is broadcast.
    * Returns the survivors (q_id, vec_id, qvec).
    */
  def adcProbe(codes: DataFrame, cb: DataFrame, qb: DataFrame,
      cent: Option[DataFrame] = None, nprobe: Int = 2,
      residual: Boolean = false, perm: Option[Array[Int]] = None,
      tombstones: Option[DataFrame] = None): DataFrame = {
    val qq = grid("qvec")
    val tables = broadcast(adcTables(cb, qb,
      perm.fold(qq)(p => array(p.map(i => qq.getItem(i)): _*))))
    def live(c: DataFrame): DataFrame = tombstones.foldLeft(c)((c, t) =>
      c.join(broadcast(t.select("vec_id")), Seq("vec_id"), "left_anti"))
    val scored = cent match {
      case None =>
        Some(live(codes).select(col("vec_id"),
            posexplode(col("codes")).as(Seq("sub", "cid")))
          .join(tables, Seq("sub", "cid")))
      case Some(c) => cellCut(c, qb, nprobe).map { case (qcells, cells) =>
        live(codes.filter(col("cell").isin(cells: _*)))
          .select(col("vec_id"), col("cell"),
            posexplode(col("codes")).as(Seq("sub", "cid")))
          .join(broadcast(qcells), Seq("cell")) // each query scores its OWN cells
          .join(tables, Seq("q_id", "sub", "cid"))
      }
    }
    scored.fold(noSurvivors(qb)) { sc =>
      val pairs = sc.filter(col("vec_id") =!= col("q_id"))
      val approx =
        if (!residual) pairs.groupBy("q_id", "vec_id").agg(sum("ds").as("approx_i"))
        else {
          // per-(query, cell) centroid term from the k×64 artifact
          val centI = cent.get.select(col("cell"), col("pos").as("cp"),
            round(col("c") * lit(1000.0), 0).cast(LongType).as("cv_i"))
          val cdot = centI
            .join(broadcast(qb.select(col("q_id"), posexplode(qq).as(Seq("cp", "qv")))),
              Seq("cp"))
            .groupBy("q_id", "cell").agg(sum(col("cv_i") * col("qv")).as("cd"))
          pairs.groupBy("q_id", "vec_id", "cell").agg(sum("ds").as("rds"))
            .join(broadcast(cdot), Seq("q_id", "cell"))
            .withColumn("approx_i", col("cd") + col("rds"))
        }
      topPerQuery(approx, "approx_i", Stage1)
        .join(broadcast(qb.select("q_id", "qvec")), Seq("q_id"))
        .select("q_id", "vec_id", "qvec")
    }
  }

  // -------- exact re-rank, truth, recall ------------------------------------

  /** Exact re-rank of stage-1 survivors (q_id, vec_id, qvec) against the
    * float vectors of `emb`: top-`k` per query as (q_id, vec_id, sim).
    */
  def rerank(stage1: DataFrame, emb: DataFrame, k: Int): DataFrame =
    topPerQuery(stage1.join(emb.select("vec_id", "embedding"), "vec_id")
      .withColumn("sim", exactSim), "sim", k)
      .select("q_id", "vec_id", "sim")

  /** Brute-force top-TopK truth (q_id, vec_id) of the queries `qb`
    * (q_id, qvec) over every other vector of `emb`.
    */
  def truth(emb: DataFrame, qb: DataFrame): DataFrame =
    topPerQuery(emb.crossJoin(broadcast(qb))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", exactSim), "sim", TopK)
      .select("q_id", "vec_id")

  private def sfx(chain: String): String = if (chain.isEmpty) "" else "_" + chain

  /** Recall of named top-k chains (q_id, vec_id, …) against `exact`
    * (q_id, vec_id). Per query: q_id, n_exact, then n_hit_<chain> and
    * recall_<chain> per chain; with `perQuery = false` over the whole
    * query set: n_queries, n_exact, then the same per-chain pair. A
    * chain named "" yields plain n_hit / recall.
    */
  def recall(exact: DataFrame, chains: Seq[(String, DataFrame)],
      perQuery: Boolean = true): DataFrame = {
    val joined = chains.foldLeft(exact) { case (df, (c, top)) =>
      df.join(top.select(col("q_id"), col("vec_id"), lit(1L).as("hit" + sfx(c))),
        Seq("q_id", "vec_id"), "left")
    }
    val nHit = chains.map { case (c, _) =>
      coalesce(sum(col("hit" + sfx(c))), lit(0L)).as("n_hit" + sfx(c))
    }
    val nExact = count(lit(1)).as("n_exact")
    val (agg, first) =
      if (perQuery) (joined.groupBy("q_id").agg(nExact, nHit: _*), "q_id")
      else (joined.agg(countDistinct(col("q_id")).as("n_queries"),
        nExact +: nHit: _*), "n_queries")
    agg.select(col(first) +: col("n_exact") +: chains.flatMap { case (c, _) =>
      Seq(col("n_hit" + sfx(c)),
        round(col("n_hit" + sfx(c)) / col("n_exact"), 6).as("recall" + sfx(c)))
    }: _*)
  }

  /** The recall curve over the nprobe Rungs: one whole-set `recall` row
    * per rung, np first, ordered by np.
    */
  def curve(exact: DataFrame)(chains: Int => Seq[(String, DataFrame)]): DataFrame = {
    val rows = Rungs.map(np =>
      recall(exact, chains(np), perQuery = false).withColumn("np", lit(np.toLong)))
      .reduce(_ unionByName _)
    rows.select("np", rows.columns.filterNot(_ == "np"): _*).orderBy("np")
  }

  /** n_hit·10⁶ / n_exact, floored (0 for an empty truth). */
  def micro(nHit: Long, nExact: Long): Long =
    if (nExact == 0) 0L else math.floor(nHit * 1e6 / nExact).toLong

  private def certFields(p: String, nq: Long, nExact: Long,
      nHit: Long): Map[String, Long] = Map(
    s"${p}recall_n_queries" -> nq,
    s"${p}recall_hits" -> nHit,
    s"${p}recall_at10_micro" -> micro(nHit, nExact))

  /** The manifest triple `<p>recall_{n_queries,hits,at10_micro}` of one
    * top-k chain against `exact`.
    */
  def certify(p: String, exact: DataFrame, top: DataFrame): Map[String, Long] = {
    val r = recall(exact, Seq("" -> top), perQuery = false).head()
    certFields(p, r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The sweep → operating-point manifest of a `curve` frame: the
    * per-rung micro-recalls (`<p>sweep_np<n>_recall_micro`), the np = 2
    * certification triple, and the operating point — the smallest rung
    * meeting TargetMicro, or -1 ("re-cluster") with the curve's ceiling.
    * The rows (np, n_queries, n_exact, n_hit, recall_micro) are written
    * to `dir` beside the index.
    */
  def sweepManifest(s: SparkSession, p: String, curveDf: DataFrame,
      dir: String): Map[String, Long] = {
    import s.implicits._
    val rows = curveDf.collect().toSeq.map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        micro(r.getLong(3), r.getLong(2)))
    }
    rows.toDF("np", "n_queries", "n_exact", "n_hit", "recall_micro")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val op = rows.find(_._1 == 2L).get
    val chosen = rows.filter(_._5 >= TargetMicro).sortBy(_._1).headOption
    rows.map { case (np, _, _, _, m) => s"${p}sweep_np${np}_recall_micro" -> m }
      .toMap ++ certFields(p, op._2, op._3, op._4) ++ Map(
      s"${p}op_target_micro" -> TargetMicro,
      s"${p}op_nprobe" -> chosen.map(_._1).getOrElse(-1L),
      s"${p}op_recall_micro" -> chosen.map(_._5).getOrElse(rows.map(_._5).max))
  }

  // -------- DuckDB mirrors: oracle CTE text ---------------------------------
  //
  // Each builder returns one or more `name AS (...)` CTEs with the exact
  // layout the oracles have always had (OracleSqlDigestSpec pins every
  // generated text), so the indentation some of them compute from a name
  // is part of the contract.

  private def dotSql(a: String, b: String): String = LlmOps.dotSql(a, b)

  /** `m`: the float corpus carrying `cols` plus its SQ8 scale maxabs. */
  def mSql(cols: String): String =
    s"""m AS (
       |  SELECT $cols,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS maxabs
       |  FROM embeddings)""".stripMargin

  /** SQ8 codes `name`(cols…, qarr) of the vectors `emb` over `from`
    * (by default the kept rows of `m`).
    */
  def sq8Sql(name: String, cols: String, emb: String = "embedding",
      from: String = "m WHERE maxabs > 0"): String =
    s"""$name AS (
       |  SELECT $cols,
       |    list_transform($emb,
       |      x -> CAST(floor(x::DOUBLE * 127.0 / maxabs + 0.5) AS BIGINT)) AS qarr
       |  FROM $from)""".stripMargin

  /** SQ8 codes `c` of the kept corpus tagged with its learned cell
    * (lloydCteSql's cellkm) as `cell`.
    */
  def kmSq8Sql(cell: String): String =
    sq8Sql("c", s"m.vec_id, k.cid AS $cell, m.embedding, m.maxabs", "m.embedding",
      "m JOIN cellkm k ON m.vec_id = k.vec_id WHERE m.maxabs > 0")

  /** `qs`: queries (q_id, qvec, qq ×1000 grid) selected from `from`. */
  def qsSql(from: String): String =
    s"""qs AS (SELECT vec_id AS q_id, embedding AS qvec,
       |         list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS qq
       |       FROM $from)""".stripMargin

  /** `qx`: per-(query, pos) float components of the queries `q`. */
  def qxSql(q: String): String =
    s"""qx AS (SELECT q_id, r.i AS pos, qvec[r.i]::DOUBLE AS qv
       |       FROM $q, range(1,65) r(i))""".stripMargin

  /** `csim`: rounded per-(query, cell) similarity to the centroids `cent`. */
  def csimSql(csim: String, cent: String): String =
    s"""$csim AS (SELECT q_id, $cent.label, round(sum(c * qv), 6) AS s
       |${" " * (csim.length + 5)}FROM $cent JOIN qx USING (pos) GROUP BY 1, 2)""".stripMargin

  /** `qc`: each query's top-`k` cells of `csim` — the cell cut. */
  def qcSql(qc: String, csim: String, k: Int): String =
    s"""$qc AS (SELECT q_id, label FROM (
       |${" " * (qc.length + 7)}SELECT q_id, label, row_number() OVER (PARTITION BY q_id
       |${" " * (qc.length + 9)}ORDER BY s DESC, label) AS rk FROM $csim) WHERE rk <= $k)""".stripMargin

  /** The cell cut at every rung of a prior `nps`: `<qc>r` ranks each
    * query's cells, `qc` (np, q_id, label) keeps rank ≤ np.
    */
  def qcRungsSql(qc: String, csim: String): String =
    s"""${qc}r AS (SELECT q_id, label, row_number() OVER (PARTITION BY q_id
       |${" " * (qc.length + 8)}ORDER BY s DESC, label) AS rk FROM $csim),
       |$qc AS (SELECT np, q_id, label FROM ${qc}r CROSS JOIN nps WHERE rk <= np)""".stripMargin

  /** The SQ8 pruned chain of the queries `q` over the codes `c`: `a`
    * approx-scores each query's cells of `qc` (c.`cell` = qc.label), `r`
    * ranks, `s` re-ranks the top Stage1 exactly (sim). With `np` every
    * step is also keyed by the nprobe rung of `qc`.
    */
  def sq8ChainSql(a: String, r: String, s: String, q: String, qc: String,
      cell: String, np: Boolean): String = {
    val n = if (np) "np, " else ""
    s"""$a AS (
       |  SELECT ${if (np) s"$qc.np, " else ""}$q.q_id, c.vec_id, c.embedding, $q.qvec,
       |    maxabs / 127.0 * list_sum(list_transform(range(1,65),
       |      k -> c.qarr[k] * $q.qvec[k]::DOUBLE)) AS approx_sim
       |  FROM c JOIN $qc ON c.$cell = $qc.label
       |         JOIN $q ON $q.q_id = $qc.q_id
       |  WHERE c.vec_id <> $q.q_id),
       |$r AS (SELECT ${n}q_id, vec_id, embedding, qvec,
       |    row_number() OVER (PARTITION BY ${n}q_id
       |      ORDER BY approx_sim DESC, vec_id) AS rk FROM $a),
       |$s AS (SELECT ${n}q_id, vec_id,
       |    round(${dotSql("embedding", "qvec")}, 6) AS sim
       |  FROM $r WHERE rk <= $Stage1)""".stripMargin
  }

  /** `name`(`by`, vec_id): the top-`k` rows of `from` per `by` by `order`
    * (ties by vec_id).
    */
  def cutSql(name: String, from: String, order: String, k: Int,
      by: String = "q_id"): String =
    s"""$name AS (SELECT $by, vec_id FROM (
       |    SELECT $by, vec_id, row_number() OVER (PARTITION BY $by
       |      ORDER BY $order DESC, vec_id) AS rk FROM $from) WHERE rk <= $k)""".stripMargin

  /** `name`: exact sim of the candidates `from` against the queries `qs`. */
  def exactSql(name: String, from: String): String =
    s"""$name AS (SELECT $from.q_id, $from.vec_id,
       |         round(${dotSql("e.embedding", "qs.qvec")}, 6) AS sim
       |       FROM $from JOIN embeddings e USING (vec_id) JOIN qs USING (q_id))""".stripMargin

  /** Approx cut `pr` of `ap`, exact sims `rr`, exact top-10 `p`. */
  def rerankSql(pr: String, rr: String, p: String, ap: String): String =
    s"""${cutSql(pr, ap, "approx_i", Stage1)},
       |${exactSql(rr, pr)},
       |${cutSql(p, rr, "sim", TopK)}""".stripMargin

  /** The serving tail: exact top-3 per query of the sims `s` as the
    * final SELECT (q_id, vec_id, sim).
    */
  def top3Sql(t: String, s: String): String =
    s"""$t AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, vec_id) AS rk FROM $s)
       |SELECT q_id, vec_id, sim FROM $t WHERE rk <= 3
       |ORDER BY q_id, vec_id""".stripMargin

  /** The ADC serving tail over the approx scores `ap`: cut, exact sims,
    * top-3 per query.
    */
  def adcServeSql(ap: String): String =
    s"""${cutSql("pr", ap, "approx_i", Stage1)},
       |${exactSql("s2", "pr")},
       |${top3Sql("t2", "s2")}""".stripMargin

  /** `bf`/`bfr`: the brute-force top-10 truth of the queries `q`. The
    * sim and FROM lines sit at `ind` and `ind` − 2 spaces.
    */
  def truthSql(q: String, ind: Int): String =
    s"""bf AS (SELECT $q.q_id, e.vec_id,
       |${" " * ind}round(${dotSql("e.embedding", s"$q.qvec")}, 6) AS sim
       |${" " * (ind - 2)}FROM embeddings e, $q WHERE e.vec_id <> $q.q_id),
       |${cutSql("bfr", "bf", "sim", TopK)}""".stripMargin

  /** Per-query recall of the top-10 chains (cte, column suffix) against
    * `bfr`, as the final SELECT.
    */
  def recallSql(chains: (String, String)*): String = {
    val cols = chains.map { case (p, n) =>
      s"""  CAST(count($p.vec_id) AS BIGINT) AS n_hit$n,
         |  round(count($p.vec_id) * 1.0 / count(*), 6) AS recall$n""".stripMargin
    }
    val joins = chains.map { case (p, _) =>
      s"LEFT JOIN $p ON bfr.q_id = $p.q_id AND bfr.vec_id = $p.vec_id"
    }
    s"""SELECT bfr.q_id,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |${cols.mkString(",\n")}
       |FROM bfr${if (chains.size == 1) " " else "\n"}${joins.mkString("\n")}
       |GROUP BY bfr.q_id ORDER BY bfr.q_id""".stripMargin
  }

  /** Recall per nprobe rung of the top-10 chains (cte, column suffix)
    * against `bfr`, as the final SELECT.
    */
  def curveSql(chains: (String, String)*): String = {
    val cols = chains.map { case (p, n) =>
      s"""  CAST(count($p.vec_id) AS BIGINT) AS n_hit$n,
         |  round(count($p.vec_id) * 1.0 / count(*), 6) AS recall$n""".stripMargin
    }
    val joins = chains.map { case (p, _) =>
      s"""LEFT JOIN $p ON $p.np = nps.np AND $p.q_id = bfr.q_id
         |           AND $p.vec_id = bfr.vec_id""".stripMargin
    }
    s"""SELECT nps.np,
       |  CAST(count(DISTINCT bfr.q_id) AS BIGINT) AS n_queries,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |${cols.mkString(",\n")}
       |FROM nps CROSS JOIN bfr
       |${joins.mkString("\n")}
       |GROUP BY nps.np ORDER BY nps.np""".stripMargin
  }

  /** The operating-point inversion of a prior `curve`(np, n_exact, n_hit)
    * CTE as the final SELECT: per policy target, the smallest rung
    * meeting it or -1 ("re-cluster") with the curve's ceiling.
    */
  val invertSql: String =
    """mc AS (SELECT np, n_hit * 1000000 // n_exact AS micro FROM curve),
      |tg AS (SELECT CAST(unnest([250000, 500000, 900000]) AS BIGINT)
      |         AS target_micro),
      |ch AS (SELECT tg.target_micro,
      |         min(CASE WHEN mc.micro >= tg.target_micro
      |             THEN mc.np END) AS chosen,
      |         max(mc.micro) AS best
      |       FROM tg CROSS JOIN mc GROUP BY 1)
      |SELECT ch.target_micro,
      |  coalesce(ch.chosen, -1) AS chosen_nprobe,
      |  coalesce(mc.micro, ch.best) AS achieved_micro,
      |  CASE WHEN ch.chosen IS NULL THEN 're-cluster' ELSE 'serve' END
      |    AS decision
      |FROM ch LEFT JOIN mc ON mc.np = ch.chosen
      |ORDER BY target_micro""".stripMargin

  /** `name`: per-query integer ADC tables of the queries `q` (grid
    * column `qq`) against the trained codebook `m1`.
    */
  def dtqSql(name: String, m1: String, q: String, qq: String): String =
    s"""$name AS (SELECT $q.q_id, $m1.sub, $m1.cid,
       |          sum($q.$qq[$m1.sub * ${LlmOps.PqDsub} + $m1.pos] * $m1.cv_i) AS ds
       |        FROM $m1, $q GROUP BY 1, 2, 3)""".stripMargin

  /** `cdtq`: per-(query, cell) centroid dot on the integer grid. */
  val cdtqSql: String =
    """cdtq AS (SELECT qs.q_id, c1.cid AS cell,
      |          list_sum(list_transform(range(1, len(c1.cv) + 1),
      |            i -> qs.qq[i] * c1.cv[i])) AS cd
      |        FROM c1, qs)""".stripMargin

  /** `name`: residual approx scores of the codes `cd` over each query's
    * cut cells (`qc`), ADC tables `dtq` plus the cell term `cdtq`; `pred`
    * extends the WHERE clause.
    */
  def residualApSql(name: String, dtq: String, cd: String,
      pred: String = ""): String =
    s"""$name AS (SELECT $dtq.q_id, $cd.vec_id, cdtq.cd + sum($dtq.ds) AS approx_i
       |        FROM $cd JOIN $dtq ON $cd.sub = $dtq.sub AND $cd.cid = $dtq.cid
       |             JOIN cellkm ON cellkm.vec_id = $cd.vec_id
       |             JOIN qc ON qc.q_id = $dtq.q_id AND qc.label = cellkm.cid
       |             JOIN cdtq ON cdtq.q_id = $dtq.q_id AND cdtq.cell = cellkm.cid
       |        WHERE $cd.vec_id <> $dtq.q_id$pred
       |        GROUP BY $dtq.q_id, $cd.vec_id, cdtq.cd)""".stripMargin

  /** The batched residual IVF-PQ chain of `qs` (cell cut at nprobe = 2,
    * ADC tables, cell term, approx scores `apr`); `pred` restricts the
    * candidate pool.
    */
  def residualBatchSql(pred: String = ""): String =
    s"""${qxSql("qs")},
       |${csimSql("csim", "centkm")},
       |${qcSql("qc", "csim", 2)},
       |${dtqSql("rdtq", "rm1", "qs", "qq")},
       |$cdtqSql,
       |${residualApSql("apr", "rdtq", "rcd", pred)}""".stripMargin
}
