package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.PortableHash
import graft.operators.{Bfs, CmsSketch, HeavyHitters, KCore, KTruss, KmvSketch, LabelProp, Quantiles, Sssp}

/** Distributed-algorithm queries: graph reach, sublinear heavy hitters,
  * Pareto frontier. Each has a plain-SQL oracle twin (recursive CTE /
  * GROUP-BY-HAVING / NOT-EXISTS dominance) that is the SEMANTIC spec but
  * would not survive 100 TB — the Spark side is the scale-shaped
  * evaluation of the same answer.
  */
object Algorithms extends QueryModule {

  /** Bounded-depth BFS over the part co-purchase graph (parts sharing an
    * order). Edge build is a self-equi-join on the order key — per-order
    * multiplicity is bounded by order size (~7 lines), so the join output
    * is O(|lineitem| · linesPerOrder), never quadratic in parts. The
    * iterative expansion is [[Bfs.Adjacency.hopsFrom]]: one job per round
    * over the cached adjacency with a broadcast bitmap frontier. The
    * oracle's recursive CTE enumerates the same closure centrally.
    */
  // pair build as ONE key shuffle: collect each order's part set (order
  // size ~7, so arrays are tiny and map-side combine bites) and explode
  // the ordered pairs in-stage, both directions, so the adjacency build
  // needs no symmetrize pass; it drops duplicate pairs itself while
  // building each partition's CSR, so there is no distinct shuffle here.
  // Memoized ([[graft.core.Shared]]): the build is the dominant cost of a
  // traversal, and at scale the co-purchase graph is derived once, not
  // once per traversal — memoizing also makes the bench's cold/warm
  // spread attributable via `shared_builds`. Shared by [[bfsHops]] and
  // [[graphDiameter]], which also read its vertex count (the traversal's
  // coverage exit) and max-degree vertex (the first sweep's source).
  private def coPurchase(spark: SparkSession, dir: String): Bfs.Adjacency =
    graft.core.Shared.memoValue(spark, "bfs_copurchase_adjacency", dir,
        (a: Bfs.Adjacency) => a.unpersist()) {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      Bfs.adjacency(li.groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(explode(col("ps")).as("u"), col("ps"))
        .select(col("u"), explode(col("ps")).as("v"))
        .where(col("u") =!= col("v")))
    }

  def bfsHops(spark: SparkSession, dir: String): DataFrame =
    coPurchase(spark, dir).hopsFrom(src = 1L, maxHops = 3).toDF

  /** Graph-diameter lower bound by the classic double sweep: BFS from the
    * max-degree vertex, then a second BFS from the farthest vertex found —
    * the second eccentricity is a (usually tight) diameter lower bound at
    * the cost of TWO bounded traversals, where the exact diameter needs
    * all-pairs. The source comes from the adjacency build and the far
    * vertex and eccentricity from the traversals' level bitmaps, so the
    * only jobs are the sweeps' rounds. Each pick has a deterministic
    * (metric DESC, id ASC) tiebreak the oracle's recursive-CTE replay
    * mirrors exactly. Hop caps bound the work (and are part of the
    * operator's contract: ecc_lb is "within `maxHops`").
    */
  def graphDiameter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val adj = coPurchase(spark, dir)
    val src0 = adj.hub.getOrElse(
      throw new IllegalArgumentException("graph_diameter: the co-purchase graph has no edges"))
    val far = adj.hopsFrom(src0, maxHops = 4).far
    val ecc = adj.hopsFrom(far, maxHops = 4).ecc
    Seq((src0, far, ecc)).toDF("src_node", "far_node", "ecc_lb")
  }

  private val graphDiameterSql =
    """WITH RECURSIVE ed AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |),
      |s0 AS (
      |  SELECT u FROM (SELECT u, count(*) AS deg FROM ed GROUP BY u)
      |  ORDER BY deg DESC, u LIMIT 1
      |),
      |w1(v, d) AS (
      |  SELECT u, 0 FROM s0
      |  UNION
      |  SELECT ed.v, w1.d + 1 FROM w1 JOIN ed ON ed.u = w1.v WHERE w1.d < 4
      |),
      |h1 AS (SELECT v, min(d) AS hops FROM w1 GROUP BY v),
      |far AS (SELECT v FROM h1 ORDER BY hops DESC, v LIMIT 1),
      |w2(v, d) AS (
      |  SELECT v, 0 FROM far
      |  UNION
      |  SELECT ed.v, w2.d + 1 FROM w2 JOIN ed ON ed.u = w2.v WHERE w2.d < 4
      |),
      |h2 AS (SELECT v, min(d) AS hops FROM w2 GROUP BY v)
      |SELECT (SELECT u FROM s0) AS src_node, (SELECT v FROM far) AS far_node,
      |  (SELECT CAST(max(hops) AS INTEGER) FROM h2) AS ecc_lb""".stripMargin

  private val bfsSql =
    """WITH RECURSIVE ed AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |),
      |walk(v, d) AS (
      |  SELECT CAST(1 AS BIGINT), 0
      |  UNION
      |  SELECT ed.v, walk.d + 1 FROM walk JOIN ed ON ed.u = walk.v
      |  WHERE walk.d < 3
      |)
      |SELECT v AS part_id, min(d) AS hops FROM walk GROUP BY v""".stripMargin

  /** Exact tokens at ≥1% relative support via [[HeavyHitters.frequent]]
    * (Misra-Gries candidates, k=128 counters/partition, then exact
    * recount). The oracle's full GROUP BY HAVING shuffles the entire
    * vocabulary; the engine path shuffles at most k·partitions keys.
    */
  def heavyHitterTokens(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
    HeavyHitters.frequent(words, supportDenom = 100, k = 128)
  }

  /** Approximate top-20 tokens via [[HeavyHitters.approxTopK]] (Misra-Gries
    * candidates, k=1024 counters/partition, exact recount of survivors,
    * total-ordered limit). Pairs `heavy_hitters`: same sublinear candidate
    * machinery, rank-k cut instead of a support cut. k=1024 keeps the MG
    * net ~50× finer than rank 20 on this corpus, so the candidate superset
    * provably contains the exact top-20 and the oracle's full-vocabulary
    * ORDER BY ... LIMIT matches bit-identically.
    */
  def approxTopKTokens(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
    HeavyHitters.approxTopK(words, topK = 20, k = 1024)
  }

  private val approxTopKSql =
    """WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
      |)
      |SELECT word, count(*) AS cnt FROM toks WHERE word <> ''
      |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  /** Binned-histogram quantiles ([[Quantiles.binned]]) of lineitem price
    * in cents, $1 bins: the bounded-shuffle rank statistic pairing the
    * exact rank computation in `percentiles_exact`. The histogram shuffle
    * carries one row per occupied bin (~1 K for this corpus) however large
    * the table; the answer is integer math within one bin width of the
    * exact order statistic and bit-identical to the oracle's cumulative
    * histogram.
    */
  def approxQuantilesBinned(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(floor(col("l_extendedprice") * 100).cast("long").as("v"))
    Quantiles.binned(cents, binWidth = 100L, pcts = Seq(50, 90, 99))
  }

  private val approxQuantilesSql =
    """WITH b AS (
      |  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) // 100 AS bin,
      |         count(*) AS c
      |  FROM lineitem GROUP BY 1
      |), cum AS (
      |  SELECT bin, sum(c) OVER (ORDER BY bin) AS cum, sum(c) OVER () AS n
      |  FROM b
      |), p AS (SELECT unnest([50, 90, 99]) AS pct)
      |SELECT pct, CAST(min(bin) * 100 AS BIGINT) AS value
      |FROM cum JOIN p ON cum * 100 >= pct * n
      |GROUP BY pct""".stripMargin

  /** Grouped binned quantiles ([[Quantiles.binnedByKey]]): p50/p90/p99 of
    * event value per event_type — the per-tenant latency-percentile shape.
    * Shuffle carries one row per (key, occupied bin); every window is
    * PARTITIONED by the key (no global frame), so groups parallelize and
    * each group's cumulative pass is bounded by its own bin count. The
    * exact grouped rank (`percentiles_exact`, `mad_outliers`) re-sorts
    * whole groups instead. Values are positive here, so Spark's
    * truncating `div` and DuckDB's floor `//` agree on every bin.
    */
  def approxQuantilesGrouped(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .select(col("event_type").as("k"),
        round(col("value") * 100).cast("long").as("v"))
    Quantiles.binnedByKey(cents, binWidth = 100L, pcts = Seq(50, 90, 99))
      .select(col("k").as("event_type"), col("pct"), col("value"))
  }

  private val approxQuantilesGroupedSql =
    """WITH b AS (
      |  SELECT event_type AS k, round(value * 100)::BIGINT // 100 AS bin,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2
      |), cum AS (
      |  SELECT k, bin, sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum,
      |         sum(c) OVER (PARTITION BY k) AS n
      |  FROM b
      |), p AS (SELECT unnest([50, 90, 99]) AS pct)
      |SELECT k AS event_type, pct, CAST(min(bin) * 100 AS BIGINT) AS value
      |FROM cum JOIN p ON cum * 100 >= pct * n
      |GROUP BY 1, 2""".stripMargin

  private val heavyHittersSql =
    """WITH toks AS (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
      |),
      |tf AS (
      |  SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word
      |)
      |SELECT word, cnt FROM tf
      |WHERE cnt * 100 >= (SELECT count(*) FROM toks WHERE word <> '')""".stripMargin

  /** Per-source distinct-vocabulary estimate via the KMV bottom-k sketch
    * ([[KmvSketch.KmvAgg]], k=64). Exact `COUNT(DISTINCT word)` per source
    * shuffles every distinct token to its source's reducer; the sketch
    * bounds per-source shuffle volume at k·partitions hashes, and because
    * the hash is [[PortableHash.h48]] and the estimator is integer
    * division, the oracle's central k-th-order-statistic computation gets
    * the bit-identical estimate — an ATTESTED approximate aggregate, not a
    * rows-only one. Pairs with `heavy_hitters` (exact at bounded memory)
    * and `uniq_value_count` (the reference's exact-until-cap analog).
    */
  def approxDistinctKmv(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val kmv = udaf(KmvSketch.KmvAgg(k))
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
      .select(col("source"), PortableHash.h48(col("word")).as("hv"))
      .groupBy(col("source"))
      .agg(kmv(col("hv")).as("sk"))
      .select(col("source"),
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(
            s"CAST((${k - 1} * ${KmvSketch.H48Universe}) div element_at(sk, $k) AS BIGINT)"))
          .as("est_distinct"))
  }

  private val approxDistinctKmvSql = {
    val h = PortableHash.h48Sql("word")
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(lower(text), ' ')) AS word
       |  FROM documents
       |),
       |h AS (
       |  SELECT DISTINCT source, $h AS hv FROM toks WHERE word <> ''
       |),
       |r AS (
       |  SELECT source, hv,
       |         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
       |  FROM h
       |)
       |SELECT source,
       |  CAST(CASE WHEN count(*) < 64 THEN count(*)
       |            ELSE (63 * ${KmvSketch.H48Universe})
       |                 // min(CASE WHEN rn = 64 THEN hv END)
       |       END AS BIGINT) AS est_distinct
       |FROM r WHERE rn <= 64 GROUP BY source""".stripMargin
  }

  /** Words whose frequency the CMS query estimates: six present across
    * the corpus vocabulary plus one absent ("quantum") — the absent probe
    * pins the unoccupied-cell → 0 path and keeps collision overestimates
    * observable rather than averaged away.
    */
  private val CmsProbes =
    Seq("spark", "join", "window", "data", "merge", "batch", "quantum")
  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Point-frequency estimates via [[CmsSketch]] (4×1024 counters). The
    * exact per-word count would shuffle the vocabulary; the CMS shuffles
    * ≤ depth·width occupied cells regardless of corpus size, and the
    * integer counters + portable row hashes make the oracle's central
    * replay bit-identical — the point-frequency member of the attested
    * sketch family (KMV distinct / MG top-k / binned quantiles).
    */
  def approxFreqCms(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
    val cellTable = CmsSketch.cells(toks, CmsDepth, CmsWidth)
    CmsSketch.pointEstimates(cellTable, CmsProbes, CmsDepth, CmsWidth)
  }

  private val approxFreqCmsSql = {
    val h = PortableHash.h48Sql("CAST(g.r AS VARCHAR) || ':' || word")
    val hp = PortableHash.h48Sql("CAST(g.r AS VARCHAR) || ':' || p.word")
    val probeList = CmsProbes.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
       |),
       |cells AS (
       |  SELECT g.r AS r, $h % $CmsWidth AS c, count(*) AS cnt
       |  FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g
       |  WHERE word <> ''
       |  GROUP BY 1, 2
       |),
       |pc AS (
       |  SELECT p.word, g.r, $hp % $CmsWidth AS c
       |  FROM (SELECT unnest([$probeList]) AS word) p
       |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g
       |)
       |SELECT pc.word, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est_freq
       |FROM pc LEFT JOIN cells ON cells.r = pc.r AND cells.c = pc.c
       |GROUP BY pc.word""".stripMargin
  }

  /** Equi-join cardinality estimation by CMS inner product (Cormode &
    * Muthukrishnan §4.2) — the optimizer-infrastructure use of the sketch:
    * |A ⋈ B| on the token key is Σ_w cntA(w)·cntB(w), and the row-wise
    * sketch dot product min_r Σ_c A[r][c]·B[r][c] upper-bounds it from
    * two CONSTANT-size summaries, never touching either side's data
    * again. This is how a planner prices a join between two 100 TB
    * corpus slices from kilobytes of statistics. Both the estimate and
    * the exact count ride in the output: exact ships as the
    * accuracy-visible baseline (its count-table join is vocab-bounded),
    * est ≥ exact always (spec-pinned). Integer end-to-end → the oracle
    * replays both bit-identically.
    */
  def cmsJoinSize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def toks(f: org.apache.spark.sql.Column) = docs.where(f)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
    val en = toks(col("lang") === "en")
    val rest = toks(col("lang") =!= "en")
    val a = CmsSketch.cells(en, CmsDepth, CmsWidth).withColumnRenamed("cnt", "ca")
    val b = CmsSketch.cells(rest, CmsDepth, CmsWidth).withColumnRenamed("cnt", "cb")
    val est = a.join(b, Seq("r", "c"))
      .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("dot"))
      .agg(coalesce(min(col("dot")), lit(0L)).as("est_pairs"))
    val exact = en.groupBy(col("word")).agg(count(lit(1)).as("na"))
      .join(rest.groupBy(col("word")).agg(count(lit(1)).as("nb")), "word")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_pairs"))
    est.crossJoin(exact)
  }

  private val cmsJoinSizeSql = {
    val ha = PortableHash.h48Sql("CAST(g.r AS VARCHAR) || ':' || word")
    s"""WITH ta AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS word
       |  FROM documents WHERE lang = 'en'
       |), tb AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS word
       |  FROM documents WHERE lang <> 'en'
       |),
       |ca AS (
       |  SELECT g.r AS r, $ha % $CmsWidth AS c, count(*) AS ca
       |  FROM ta CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g
       |  WHERE word <> '' GROUP BY 1, 2
       |),
       |cb AS (
       |  SELECT g.r AS r, $ha % $CmsWidth AS c, count(*) AS cb
       |  FROM tb CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g
       |  WHERE word <> '' GROUP BY 1, 2
       |),
       |dot AS (
       |  SELECT ca.r, sum(ca.ca * cb.cb) AS dot
       |  FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY 1
       |),
       |na AS (SELECT word, count(*) AS n FROM ta WHERE word <> '' GROUP BY 1),
       |nb AS (SELECT word, count(*) AS n FROM tb WHERE word <> '' GROUP BY 1)
       |SELECT
       |  CAST(coalesce((SELECT min(dot) FROM dot), 0) AS BIGINT) AS est_pairs,
       |  CAST(coalesce((SELECT sum(na.n * nb.n)
       |                 FROM na JOIN nb USING (word)), 0) AS BIGINT) AS exact_pairs""".stripMargin
  }

  /** 2-D Pareto frontier (skyline) of parts minimizing (p_size,
    * p_retailprice). Decomposition: (1) per-size min price — a key
    * aggregate that collapses the data to ≤ |distinct sizes| rows;
    * (2) running strictly-smaller-size min over that TINY frame (the one
    * single-partition window; bounded by attribute cardinality, never data
    * size); (3) broadcast the frontier back to recover tied part rows.
    * The oracle's NOT-EXISTS dominance check is the quadratic spec.
    */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
    val mins = p.groupBy("p_size").agg(min("p_retailprice").as("mp"))
    val smaller = Window.orderBy(col("p_size"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val frontier = mins
      .withColumn("smaller_min", min(col("mp")).over(smaller))
      .where(col("smaller_min").isNull || col("mp") < col("smaller_min"))
      .select(col("p_size").as("f_size"), col("mp"))
    p.join(broadcast(frontier),
        col("p_size") === col("f_size") && col("p_retailprice") === col("mp"))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
  }

  private val skylineSql =
    """SELECT p.p_partkey, p.p_size, p.p_retailprice
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM part q
      |  WHERE q.p_size <= p.p_size AND q.p_retailprice <= p.p_retailprice
      |    AND (q.p_size < p.p_size OR q.p_retailprice < p.p_retailprice))""".stripMargin

  /** Edit-distance-1 pair join (FastSS deletion neighborhood): every name
    * explodes into its |w| single-character-deletion variants indexed by
    * position; two names at ED 1 must either share a deletion variant AT
    * THE SAME POSITION (substitution) or one must equal a variant of the
    * other (insertion/deletion). Candidates come from two equi-joins on
    * the variant STRING — never the all-pairs `levenshtein` cross join
    * the oracle runs. At 100 TB the variant index is |corpus|·avg_len
    * rows joined on short keys; the quadratic spec is only ever run by
    * the oracle. The index is a STORED per-corpus artifact
    * ([[typoVariants]], round 13) — both join legs serve from the same
    * stored bytes, and the explode is paid once per corpus fingerprint
    * (`typo_index_build`), off the serving path.
    *
    * With string keys the candidate set IS the result — no verification
    * and no global dedup (round 12; the r11 hashed-key variant needed
    * both, and the 3 M-row string-pair `distinct` + the collision
    * machinery cost more than the slightly wider variant-string shuffle
    * they saved):
    *   - a same-position variant match means the two names agree
    *     everywhere except (at most) that position, and `w1 < w2`
    *     excludes equality — exactly an ED-1 substitution; conversely a
    *     substitution pair matches ONLY at its single differing
    *     position, so `subCand` contains each pair exactly once — no
    *     duplicates, nothing to verify;
    *   - a variant-equals-name match is exactly an ED-1
    *     insertion/deletion; it CAN repeat (deleting either of two equal
    *     adjacent characters yields the same variant: "aab" → "ab"
    *     twice), so the dedup is applied to the (far smaller) delCand
    *     leg ONLY;
    *   - the two legs are disjoint by length parity (substitution pairs
    *     have equal lengths, insertion/deletion pairs differ by one), so
    *     the union needs no cross-leg dedup.
    */
  /** The FastSS deletion-variant index behind [[typoJoin]], STORED — a
    * [[graft.sources.FrameStore]] artifact keyed by the customer corpus
    * fingerprint (round 13; the bm25_index_build prepare/serve split):
    * the |corpus|·avg_len-row explode is the linear leg the round-12
    * scale table measured at exponent 0.94, and it is per-corpus derived
    * state — built once off the serving path, served from stored bytes
    * by both join legs. `typo_index_build` is the prepare/census row.
    */
  private[graft] def typoVariants(spark: SparkSession, dir: String): DataFrame =
    graft.sources.FrameStore.frame(
        spark, dir, "typo_variants", 1, "customer.parquet") {
      Tables.customer(spark, dir)
        .select(col("c_name").as("name")).distinct()
        .select(col("name"), explode(expr(
          "transform(sequence(0, length(name)-1), " +
            "i -> struct(i AS pos, concat(substring(name, 1, i), " +
            "substring(name, i+2)) AS vs))")).as("d"))
        .select(col("name"), col("d.pos").as("pos"), col("d.vs").as("vs"))
    }

  def typoJoin(spark: SparkSession, dir: String): DataFrame = {
    val variants = typoVariants(spark, dir)
    val names = Tables.customer(spark, dir)
      .select(col("c_name").as("name")).distinct()
    val subCand = variants.as("a").join(variants.as("b"),
        col("a.pos") === col("b.pos") &&
          col("a.vs") === col("b.vs") &&
          col("a.name") < col("b.name"))
      .select(col("a.name").as("w1"), col("b.name").as("w2"))
    val delCand = variants.as("v")
      .join(names.as("n"), col("v.vs") === col("n.name"))
      .where(col("v.name") =!= col("n.name"))
      .select(least(col("v.name"), col("n.name")).as("w1"),
        greatest(col("v.name"), col("n.name")).as("w2"))
      .distinct()
    subCand.union(delCand)
  }

  private val typoJoinSql =
    """WITH names AS (SELECT DISTINCT c_name AS name FROM customer)
      |SELECT a.name AS w1, b.name AS w2
      |FROM names a JOIN names b
      |  ON a.name < b.name AND levenshtein(a.name, b.name) = 1""".stripMargin

  /** Prepare/census row for the stored FastSS variant index: build (or
    * fingerprint-validate) [[typoVariants]], then report its census from
    * the STORED rows — the readout attests the artifact itself, not a
    * recomputation (the bm25_index_build convention).
    */
  def typoIndexBuild(spark: SparkSession, dir: String): DataFrame =
    typoVariants(spark, dir)
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("name")).as("n_names"),
        countDistinct(col("vs")).as("n_distinct_vs"),
        max(col("pos")).cast("long").as("max_pos"))

  private val typoIndexBuildSql =
    """WITH names AS (SELECT DISTINCT c_name AS name FROM customer),
      |p AS (SELECT name, unnest(range(0, length(name))) AS pos FROM names),
      |v AS (SELECT name, pos,
      |  substring(name, 1, pos::INT) || substring(name, pos::INT + 2) AS vs
      |  FROM p)
      |SELECT count(*)::BIGINT AS n_variants,
      |  count(DISTINCT name)::BIGINT AS n_names,
      |  count(DISTINCT vs)::BIGINT AS n_distinct_vs,
      |  CAST(max(pos) AS BIGINT) AS max_pos
      |FROM v""".stripMargin

  /** Time-series gap fill: per-user daily totals, with missing days
    * materialized from a per-user `sequence(min_day, max_day)` spine and
    * forward-filled by a null-skipping `last` window. ONE shuffle on
    * user_id serves the spine build, the left join, and the fill window;
    * the spine explode is bounded by calendar span, not event count. Day
    * arithmetic stays in integer epoch-days (`ts div 86.4e12` on the
    * nanos long) — no timestamp formatting to diverge between engines;
    * daily sums are rounded BEFORE filling so forward-filled copies are
    * bit-identical in both.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), expr("ts div 86400000000000").as("day_no"))
      .agg(round(sum(col("value")), 4).as("day_value"))
    val spine = daily.groupBy("user_id")
      .agg(min("day_no").as("lo"), max("day_no").as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day_no"))
    val w = Window.partitionBy("user_id").orderBy("day_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day_no"), "left")
      .withColumn("filled", last(col("day_value"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day_no"), col("filled").as("day_value"))
  }

  private val gapFillSql =
    """WITH daily AS (
      |  SELECT user_id, epoch_ns(ts)//86400000000000 AS day_no,
      |    round(sum(value), 4) AS day_value
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id, unnest(generate_series(min(day_no), max(day_no))) AS day_no
      |  FROM daily GROUP BY user_id)
      |SELECT s.user_id, s.day_no,
      |  last_value(d.day_value IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.day_no
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value
      |FROM spine s LEFT JOIN daily d USING (user_id, day_no)""".stripMargin

  /** Each customer's 3 most expensive orders via [[graft.operators.TopK]] —
    * a bounded-buffer aggregate whose partial combine caps map output at k
    * rows per key per task, where the oracle's window formulation sorts
    * whole groups after a full shuffle. `posexplode` flattens the ≤k-entry
    * result array back to scalar rows for the compare.
    */
  def groupedTopK(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(graft.operators.TopK.TopKAgg(3))
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).as("rank"),
        col("col.id").as("o_orderkey"), col("col.price").as("o_totalprice"))
  }

  private val groupedTopKSql =
    """SELECT o_custkey, CAST(rk AS INT) AS rank, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders)
      |WHERE rk <= 3""".stripMargin

  /** Weighted co-purchase edges for the iterative graph ops below: parts
    * that share ≥2 orders, cost = 1000 div co_count + 1 (more co-orders →
    * cheaper hop, all integer). The ≥2 support floor prunes the long tail
    * of coincidental pairs — 1.2 M raw pairs → ~4 K meaningful edges at
    * sf0.1 — which is both the right graph semantically and what keeps the
    * oracle's bounded recursive CTE enumerable.
    */
  private def weightedCoEdges(spark: SparkSession, dir: String): DataFrame =
    // memoized ([[graft.core.Shared]]): sssp_weighted, label_prop and
    // kcore_graph all iterate over this same support-filtered graph
    graft.core.Shared.memo(spark, "weighted_co_edges", dir) {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
      li.as("a")
        .join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
        .select(col("u"), col("v"), expr("1000 div c + 1").as("w"))
    }

  private val coEdgesSql =
    """ed AS (
      |  SELECT u, v, (1000 // c) + 1 AS w FROM (
      |    SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS c
      |    FROM lineitem a JOIN lineitem b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |    GROUP BY 1, 2 HAVING count(*) >= 2)
      |), sed AS (
      |  SELECT u, v, w FROM ed UNION ALL SELECT v AS u, u AS v, w FROM ed
      |)""".stripMargin

  /** Bounded synchronous Bellman-Ford ([[Sssp.relax]]) from the smallest
    * vertex in the support-filtered co-purchase graph. */
  def ssspWeighted(spark: SparkSession, dir: String): DataFrame =
    Sssp.relax(weightedCoEdges(spark, dir), rounds = 3,
      trace = Some("sssp_weighted"))

  private val ssspSql =
    s"""WITH RECURSIVE $coEdgesSql,
       |walk(v, cost, hops) AS (
       |  SELECT (SELECT u FROM sed GROUP BY u ORDER BY count(*) DESC, u LIMIT 1),
       |    CAST(0 AS BIGINT), 0
       |  UNION
       |  SELECT sed.v, walk.cost + sed.w, walk.hops + 1
       |  FROM walk JOIN sed ON sed.u = walk.v
       |  WHERE walk.hops < 3
       |)
       |SELECT v AS part_id, min(cost) AS cost FROM walk GROUP BY v""".stripMargin

  /** Seeded min-label flood ([[LabelProp.minLabel]]): every 10th part id
    * seeds its own id; 3 rounds over the same support-filtered graph. */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    LabelProp.minLabel(weightedCoEdges(spark, dir).select(col("u"), col("v")),
      seedMod = 10L, rounds = 3, trace = Some("label_prop"))

  private val labelPropSql =
    s"""WITH RECURSIVE $coEdgesSql,
       |seeds AS (
       |  SELECT DISTINCT u AS n FROM sed WHERE u % 10 = 0
       |),
       |walk(v, label, hops) AS (
       |  SELECT n, n, 0 FROM seeds
       |  UNION
       |  SELECT sed.v, walk.label, walk.hops + 1
       |  FROM walk JOIN sed ON sed.u = walk.v
       |  WHERE walk.hops < 3
       |)
       |SELECT v AS part_id, min(label) AS label FROM walk GROUP BY v""".stripMargin

  // ---- link prediction (Adamic-Adar common-neighbor scoring) -------------
  private val LpK = 20
  private val LpDegCap = 32

  /** Top-`LpK` NON-adjacent part pairs ranked by Adamic-Adar score — the
    * classic "you may also like" link-prediction signal: pairs sharing
    * many LOW-degree neighbors score high, Σ_w 1/ln(deg(w)). Evaluation is
    * wedge enumeration over the support-filtered co-purchase graph — each
    * common neighbor w contributes one (u,w,v) wedge via two equi-joins —
    * then an anti-join drops already-connected pairs. The intermediate-
    * degree cap `LpDegCap` is the skew guard that makes the wedge count
    * Σ deg(w)² bounded per node at 100 TB (hubs carry ~no AA signal by
    * construction: 1/ln(deg) → 0), mirrored exactly in the oracle.
    * Per-neighbor weights are pre-rounded to integer micro-units
    * (`round(1e6/ln(deg))`) so the ranking and the top-k cutoff are exact
    * integer comparisons on both engines — no float-sum tie at the
    * boundary can reorder membership. A common neighbor always has degree
    * ≥ 2 (it touches both endpoints), so the `deg >= 2` floor in the cap
    * filter drops nothing semantically — it only keeps `ln(deg)` away
    * from zero before the join proves that.
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val ed = weightedCoEdges(spark, dir).select(col("u"), col("v"))
    val sed = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
    val mid = sed.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .where(col("deg").between(2, LpDegCap))
      .select(col("u").as("w"),
        expr("CAST(round(1000000.0 / ln(deg)) AS BIGINT)").as("aam"))
    val cand = sed.toDF("a", "w").join(mid, "w")
      .join(sed.toDF("w", "b"), "w")
      .where(col("a") < col("b"))
      .groupBy(col("a").as("u"), col("b").as("v"))
      .agg(sum(col("aam")).as("aa_micro"), count(lit(1)).as("cn"))
    val w = Window.orderBy(col("aa_micro").desc, col("u"), col("v"))
    cand.join(ed, Seq("u", "v"), "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("v")).limit(LpK)
      .withColumn("rk", row_number().over(w).cast("long"))
  }

  private val linkPredictSql =
    s"""WITH $coEdgesSql,
       |mid AS (
       |  SELECT u AS w, CAST(round(1000000.0 / ln(deg)) AS BIGINT) AS aam
       |  FROM (SELECT u, count(*) AS deg FROM sed GROUP BY u)
       |  WHERE deg BETWEEN 2 AND $LpDegCap
       |),
       |cand AS (
       |  SELECT e1.u AS u, e2.v AS v,
       |    CAST(sum(m.aam) AS BIGINT) AS aa_micro, count(*) AS cn
       |  FROM sed e1 JOIN mid m ON e1.v = m.w JOIN sed e2 ON e2.u = m.w
       |  WHERE e1.u < e2.v
       |  GROUP BY 1, 2
       |)
       |SELECT u, v, aa_micro, cn,
       |  row_number() OVER (ORDER BY aa_micro DESC, u, v) AS rk
       |FROM cand c
       |WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.u = c.u AND ed.v = c.v)
       |QUALIFY rk <= $LpK""".stripMargin

  /** Degree assortativity (Pearson r of endpoint degrees across directed
    * edges) — one number answering "do popular parts co-sell with popular
    * parts?". Two key shuffles (degree count, edge⋈degree twice) and a
    * single-row corr aggregate; corr is normalization-invariant so the
    * engines' sample-vs-population factor choice cancels. Scale shape:
    * the degree frame is node-sized and the joins are equi-joins on the
    * edge key — nothing here is quadratic.
    */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val ed = weightedCoEdges(spark, dir).select(col("u"), col("v"))
    val sed = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
    val deg = sed.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // Pearson r from EXACT integer moment sums (degrees are small longs),
    // with one identical float tail — a native corr() accumulates doubles
    // and its 12th significant digit is summation-order-dependent, which
    // flaked the cross-engine compare (DuckDB's parallel agg reorders)
    sed.join(deg.toDF("u", "du"), "u")
      .join(deg.toDF("v", "dv"), "v")
      .agg(count(lit(1)).as("n"), sum(col("du")).as("sx"),
        sum(col("dv")).as("sy"), sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
      .select(col("n").as("n_edges"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("assortativity"))
  }

  private val graphAssortativitySql =
    s"""WITH $coEdgesSql,
       |deg AS (SELECT u, count(*) AS deg FROM sed GROUP BY u),
       |m AS (
       |  SELECT count(*)::BIGINT AS n, CAST(sum(du.deg) AS BIGINT) AS sx,
       |    CAST(sum(dv.deg) AS BIGINT) AS sy,
       |    CAST(sum(du.deg * du.deg) AS BIGINT) AS sxx,
       |    CAST(sum(dv.deg * dv.deg) AS BIGINT) AS syy,
       |    CAST(sum(du.deg * dv.deg) AS BIGINT) AS sxy
       |  FROM sed JOIN deg du ON sed.u = du.u JOIN deg dv ON sed.v = dv.u
       |)
       |SELECT n AS n_edges,
       |  round((n * sxy - sx * sy)::DOUBLE /
       |    (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)),
       |    6) AS assortativity
       |FROM m""".stripMargin

  /** Bounded 2-core peeling ([[KCore.peel]], 3 rounds) over the same
    * support-filtered graph; survivors with their peeled-graph degree. */
  def kcoreGraph(spark: SparkSession, dir: String): DataFrame =
    KCore.peel(weightedCoEdges(spark, dir).select(col("u"), col("v")),
      k = 2, rounds = 3, trace = Some("kcore_graph"))

  private val kcoreSql =
    s"""WITH $coEdgesSql,
       |k1 AS (SELECT u FROM (SELECT u, count(*) AS c FROM sed GROUP BY u) WHERE c >= 2),
       |s1 AS (SELECT e.u, e.v FROM sed e JOIN k1 a ON e.u = a.u JOIN k1 b ON e.v = b.u),
       |k2 AS (SELECT u FROM (SELECT u, count(*) AS c FROM s1 GROUP BY u) WHERE c >= 2),
       |s2 AS (SELECT e.u, e.v FROM s1 e JOIN k2 a ON e.u = a.u JOIN k2 b ON e.v = b.u),
       |k3 AS (SELECT u FROM (SELECT u, count(*) AS c FROM s2 GROUP BY u) WHERE c >= 2),
       |s3 AS (SELECT e.u, e.v FROM s2 e JOIN k3 a ON e.u = a.u JOIN k3 b ON e.v = b.u)
       |SELECT u AS part_id, count(*) AS degree FROM s3 GROUP BY u""".stripMargin

  /** Bounded 3-truss peeling ([[KTruss.peel]], 2 rounds) over the same
    * support-filtered co-purchase graph: edges kept only while they sit in
    * ≥1 triangle — the EDGE-level cleaning pass ([[kcoreGraph]] strips
    * weak vertices; this strips coincidental edges that degree alone
    * cannot catch). Survivors with the triangle support that admitted
    * them. */
  def ktrussGraph(spark: SparkSession, dir: String): DataFrame =
    KTruss.peel(weightedCoEdges(spark, dir).select(col("u"), col("v")),
      k = 3, rounds = 2, trace = Some("ktruss_graph"))

  private val ktrussSql =
    s"""WITH $coEdgesSql,
       |e0 AS (SELECT u, v FROM ed),
       |t1 AS (SELECT x.u AS a, x.v AS b, y.v AS c
       |       FROM e0 x JOIN e0 y ON x.u = y.u AND x.v < y.v
       |       JOIN e0 z ON z.u = x.v AND z.v = y.v),
       |s1 AS (SELECT u, v, count(*)::BIGINT AS support FROM (
       |         SELECT a AS u, b AS v FROM t1 UNION ALL
       |         SELECT a, c FROM t1 UNION ALL
       |         SELECT b, c FROM t1) GROUP BY u, v),
       |e1 AS (SELECT u, v FROM s1 WHERE support >= 1),
       |t2 AS (SELECT x.u AS a, x.v AS b, y.v AS c
       |       FROM e1 x JOIN e1 y ON x.u = y.u AND x.v < y.v
       |       JOIN e1 z ON z.u = x.v AND z.v = y.v),
       |s2 AS (SELECT u, v, count(*)::BIGINT AS support FROM (
       |         SELECT a AS u, b AS v FROM t2 UNION ALL
       |         SELECT a, c FROM t2 UNION ALL
       |         SELECT b, c FROM t2) GROUP BY u, v)
       |SELECT u, v, support FROM s2 WHERE support >= 1""".stripMargin

  // ---- bucketed-bitmap distinct counting ----------------------------------
  /** Exact COUNT(DISTINCT) via 64-bit bucket bitmaps — the bitmap-index
    * primitive: users bucket by `user_id div 64`, each (event_type,
    * bucket) partial is ONE long (`bit_or` of `1 << (user_id % 64)`), and
    * the distinct count is Σ bit_count(bitmap). The shuffle carries one
    * long per OCCUPIED bucket per group — dense id spaces compress 64
    * users into 8 bytes, where a plain COUNT(DISTINCT) expand ships every
    * (group, user) pair; and unlike a distinct-shuffle, the bitmap partial
    * is a commutative monoid, so map-side combine does the heavy lifting.
    * This is the engine-level trick behind bitmap indexes and
    * BITMAP_CONSTRUCT_AGG in warehouse engines. The oracle attests with an
    * INDEPENDENT implementation — DuckDB's native count(DISTINCT) — so the
    * bitmap algebra itself is what's being verified.
    */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("user_id div 64").as("bkt"),
        expr("shiftleft(1L, int(user_id % 64))").as("bit"))
      .groupBy(col("event_type"), col("bkt"))
      .agg(expr("bit_or(bit)").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(bm)")).cast("long").as("n_users"),
        count(lit(1)).as("n_buckets"))

  private val bitmapDistinctSql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT user_id // 64) AS n_buckets
      |FROM events GROUP BY event_type""".stripMargin

  // ---- HyperLogLog distinct estimate --------------------------------------
  /** Per-flag distinct order count via [[graft.operators.HllSketch]] — two
    * hash aggregations, 48 bytes of state per group, ~13% (1.04/√64)
    * error. The sketch completes the catalog's cardinality ladder:
    * [[bitmapDistinct]] (exact, dense-id), [[approxDistinctKmv]] (bounded
    * values, set algebra via [[kmvSetOps]]), HLL (smallest state,
    * union-only). The oracle replays the identical integer estimator chain
    * in DuckDB (the estimate is attested bit-for-bit, not band-checked;
    * accuracy vs exact is spec-asserted in HllSketchSpec).
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val hv = PortableHash.h48(col("l_orderkey").cast("string"))
    graft.operators.HllSketch.distinctByKey(
      Tables.lineitem(spark, dir).select(col("l_returnflag"), hv.as("hv")),
      "l_returnflag")
  }

  private val hllDistinctSql = graft.operators.HllSketch.distinctByKeySql(
    "lineitem", "l_returnflag", PortableHash.h48Sql("l_orderkey::VARCHAR"))

  /** Sketch-merge rollup: per-flag AND all-flags distinct estimates from
    * ONE register build — the merged 'ALL' scope is the per-register max
    * of the per-flag registers (HLL registers are a max-monoid, so the
    * sketch of a union is the element-wise max of the sketches; this is
    * WHY warehouses store HLL state per partition and roll it up without
    * rescans). One rollup aggregate computes both granularities in a
    * single pass; its grand-total row is dropped (j IS NULL) and never
    * carries data. The invariant the oracle attests: est('ALL') is
    * derived from merged REGISTERS, not from re-hashing the union — yet
    * equals exactly what a direct pass over the union would produce.
    */
  def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.HllSketch
    val hv = PortableHash.h48(col("l_orderkey").cast("string"))
    val regs = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("k"), hv.as("hv"))
      .select(col("k"), HllSketch.register(col("hv")).as("j"),
        HllSketch.rank(col("hv")).as("r"))
      .rollup(col("j"), col("k")).agg(max(col("r")).as("mj"))
      .where(col("j").isNotNull)
      .select(coalesce(col("k"), lit("ALL")).as("scope"), col("j"), col("mj"))
    HllSketch.estimateRegisters(regs, "scope")
  }

  private val hllMergeSql = {
    import graft.operators.HllSketch.{EstNum, LcTable, LcThreshold, M, P, W}
    val h = PortableHash.h48Sql("l_orderkey::VARCHAR")
    val lcList = LcTable.mkString("[", ", ", "]")
    s"""WITH hm_h AS (
       |  SELECT l_returnflag AS k, $h AS hv FROM lineitem
       |), hm_f AS (
       |  SELECT k, hv // ${1L << (48 - P)} AS j,
       |         (hv // ${1L << (48 - P - W)}) % ${1L << W} AS v
       |  FROM hm_h
       |), hm_r AS (
       |  SELECT k, j, CASE WHEN v = 0 THEN ${W + 1}
       |                    ELSE ${W + 1} - length(bin(v)) END AS r
       |  FROM hm_f
       |), hm_m AS (
       |  SELECT coalesce(k, 'ALL') AS scope, j, max(r) AS mj
       |  FROM hm_r GROUP BY GROUPING SETS ((j, k), (j))
       |), hm_a AS (
       |  SELECT scope, count(*) AS pres,
       |         CAST(sum(1::BIGINT << (${W + 1} - mj)) AS BIGINT) AS tpres
       |  FROM hm_m GROUP BY scope
       |), hm_e AS (
       |  SELECT scope, pres,
       |         $EstNum // (1000 * (tpres + ($M - pres) * ${1L << (W + 1)})) AS raw
       |  FROM hm_a
       |)
       |SELECT scope,
       |  CAST(CASE WHEN raw <= $LcThreshold AND pres < $M
       |            THEN ($lcList)[$M - pres] ELSE raw END AS BIGINT)
       |    AS est_distinct
       |FROM hm_e""".stripMargin
  }

  // ---- KMV sketch set algebra ---------------------------------------------
  /** Union / intersection / Jaccard ESTIMATES between two order-key sets
    * (return-flag A vs R) from their k=64 [[KmvSketch]] sketches alone —
    * the sketch-level set algebra that lets a catalog answer "how much do
    * these two 10^10-row slices overlap?" from two 512-byte summaries
    * instead of a distinct-join over both. Union: the bottom-k of the
    * merged sketch is a valid KMV sketch of A∪B, so the standard
    * (k−1)·U/h_k estimator applies. Intersection: the members of that
    * merged bottom-k form a uniform sample of A∪B, so the fraction also
    * present in BOTH input sketches estimates the Jaccard similarity
    * (Beyer et al. 2007), and |A∩B| ≈ ρ̂ · |A∪B|. All arithmetic is
    * integer (estimates, basis-point Jaccard), so the DuckDB oracle —
    * which re-derives both sketches relationally via row_number() — is
    * bit-identical. Below k distinct the sketches ARE the sets and every
    * output is exact.
    */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val kmv = udaf(KmvSketch.KmvAgg(k))
    val sk = Tables.lineitem(spark, dir)
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag").as("side"),
        PortableHash.h48(col("l_orderkey").cast("string")).as("hv"))
      .groupBy(col("side")).agg(kmv(col("hv")).as("sk"))
    val a = sk.where(col("side") === "A").select(col("sk").as("ska"))
    val b = sk.where(col("side") === "R").select(col("sk").as("skb"))
    a.crossJoin(b)
      .select(col("ska"), col("skb"),
        slice(array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, k)
          .as("mg"))
      .select(size(col("mg")).cast("long").as("sz"),
        when(size(col("mg")) < k, size(col("mg")).cast("long"))
          .otherwise(expr(
            s"(${k - 1} * ${KmvSketch.H48Universe}) div element_at(mg, $k)"))
          .as("est_union"),
        size(filter(col("mg"),
          h => array_contains(col("ska"), h) && array_contains(col("skb"), h)))
          .cast("long").as("inter_k"))
      .select(col("est_union"),
        expr("(inter_k * est_union) div sz").as("est_inter"),
        expr("(10000 * inter_k) div sz").as("jaccard_bp"),
        col("inter_k"))
  }

  private val kmvSetOpsSql = {
    val h = PortableHash.h48Sql("l_orderkey::VARCHAR")
    s"""WITH d AS (
       |  SELECT DISTINCT l_returnflag AS side, $h AS hv
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
       |), ka AS (
       |  SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
       |                  FROM d WHERE side = 'A') WHERE rn <= 64
       |), kb AS (
       |  SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
       |                  FROM d WHERE side = 'R') WHERE rn <= 64
       |), mg AS (
       |  SELECT hv, rn FROM (
       |    SELECT hv, row_number() OVER (ORDER BY hv) AS rn
       |    FROM (SELECT hv FROM ka UNION SELECT hv FROM kb)) WHERE rn <= 64
       |), st AS (
       |  SELECT count(*) AS sz, max(CASE WHEN rn = 64 THEN hv END) AS h64,
       |    CAST(sum(CASE WHEN hv IN (SELECT hv FROM ka)
       |                   AND hv IN (SELECT hv FROM kb)
       |             THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
       |  FROM mg
       |), eu AS (
       |  SELECT sz, inter_k,
       |    CAST(CASE WHEN sz < 64 THEN sz
       |              ELSE (63 * ${KmvSketch.H48Universe}) // h64
       |         END AS BIGINT) AS est_union
       |  FROM st
       |)
       |SELECT est_union,
       |  CAST((inter_k * est_union) // sz AS BIGINT) AS est_inter,
       |  CAST((10000 * inter_k) // sz AS BIGINT) AS jaccard_bp, inter_k
       |FROM eu""".stripMargin
  }

  // ---- minimum spanning forest (single-linkage backbone) ---------------------

  /** Borůvka rounds BOTH engines are bounded by — 14 covers 2¹⁴
    * components, far above the sf0.01 co-purchase graph's ~1.4 K nodes;
    * converged rounds replay as no-ops in the oracle's unroll. The Spark
    * side runs the SAME bound with a fixpoint exit, and
    * [[graft.operators.Mst.forest]] fails loudly if cross-component
    * edges remain at the bound — so a graph needing > 14 rounds can
    * never silently diverge from the oracle's truncated replay.
    */
  private val MstRounds = 14

  /** Minimum spanning forest of the support-filtered co-purchase graph
    * ([[graft.operators.Mst]], Borůvka) — the single-linkage clustering
    * backbone: cutting the forest's k−1 heaviest edges yields the k
    * single-linkage clusters, so this one artifact answers every "how do
    * the product communities merge as the similarity threshold loosens"
    * question without re-clustering. Readout: node/edge/component census
    * + total and maximum forest weight (the first cut). The forest is
    * UNIQUE under the (w, u, v) tie-broken edge order, which is what lets
    * the DuckDB twin attest it by replaying the same bounded Borůvka
    * schedule (per round: per-component argmin via one window, merge via
    * the dedup_cluster-style recursive reach over the ≤|comps|-sized
    * component graph).
    */
  def mstForest(spark: SparkSession, dir: String): DataFrame = {
    val edges = weightedCoEdges(spark, dir)
    val f = graft.operators.Mst.forest(edges, maxRounds = MstRounds,
      trace = Some("mst_forest"))
    val nNodes = edges
      .select(explode(array(col("u"), col("v"))).as("id")).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    f.agg(count(lit(1)).as("n_mst_edges"),
        sum(col("w")).as("total_w"), max(col("w")).as("max_w"))
      .crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("n_mst_edges"),
        (col("n_nodes") - col("n_mst_edges")).as("n_components"),
        col("total_w"), col("max_w"))
  }

  private val mstForestSql = {
    val rounds = (1 to MstRounds).map { k =>
      val p = k - 1
      s"""e$k AS MATERIALIZED (
         |  SELECT e.u, e.v, e.w, a.label AS cu, b.label AS cv
         |  FROM ed e JOIN comp$p a ON a.id = e.u JOIN comp$p b ON b.id = e.v
         |  WHERE a.label <> b.label
         |), cand$k AS (
         |  SELECT cu AS c, w, u, v FROM e$k
         |  UNION ALL SELECT cv AS c, w, u, v FROM e$k
         |), sel$k AS MATERIALIZED (
         |  SELECT DISTINCT u, v, w FROM (
         |    SELECT c, u, v, w,
         |      row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
         |    FROM cand$k) t WHERE rn = 1
         |), mst$k AS MATERIALIZED (
         |  SELECT u, v, w FROM mst$p UNION ALL SELECT u, v, w FROM sel$k
         |), cg$k AS (
         |  SELECT DISTINCT a.label AS x, b.label AS y
         |  FROM sel$k s JOIN comp$p a ON a.id = s.u JOIN comp$p b ON b.id = s.v
         |), scg$k AS MATERIALIZED (
         |  SELECT x, y FROM cg$k UNION SELECT y AS x, x AS y FROM cg$k
         |), reach$k(x, r) AS (
         |  SELECT label, label FROM (SELECT DISTINCT label FROM comp$p) t
         |  UNION
         |  SELECT s.x, reach$k.r FROM scg$k s JOIN reach$k ON reach$k.x = s.y
         |), rel$k AS MATERIALIZED (
         |  SELECT x, min(r) AS nl FROM reach$k GROUP BY x
         |), comp$k AS MATERIALIZED (
         |  SELECT c.id, r.nl AS label FROM comp$p c JOIN rel$k r ON r.x = c.label
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $coEdgesSql,
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT u AS id FROM ed UNION ALL SELECT v AS id FROM ed) t
       |), comp0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
       |mst0 AS (SELECT u, v, w FROM ed WHERE false),
       |$rounds
       |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
       |  count(*) AS n_mst_edges,
       |  (SELECT count(*) FROM nodes) - count(*) AS n_components,
       |  CAST(sum(w) AS BIGINT) AS total_w,
       |  CAST(max(w) AS BIGINT) AS max_w
       |FROM mst$MstRounds""".stripMargin
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("hll_distinct", hllDistinct, Some(hllDistinctSql)),
    QueryDef("hll_merge", hllMerge, Some(hllMergeSql)),
    QueryDef("kmv_set_ops", kmvSetOps, Some(kmvSetOpsSql)),
    QueryDef("bitmap_distinct", bitmapDistinct, Some(bitmapDistinctSql)),
    QueryDef("sssp_weighted", ssspWeighted, Some(ssspSql)),
    QueryDef("label_prop", labelProp, Some(labelPropSql)),
    QueryDef("kcore_graph", kcoreGraph, Some(kcoreSql)),
    QueryDef("ktruss_graph", ktrussGraph, Some(ktrussSql)),
    QueryDef("grouped_topk", groupedTopK, Some(groupedTopKSql)),
    QueryDef("bfs_hops", bfsHops, Some(bfsSql)),
    QueryDef("graph_diameter", graphDiameter, Some(graphDiameterSql)),
    QueryDef("link_predict", linkPredict, Some(linkPredictSql)),
    QueryDef("graph_assortativity", graphAssortativity, Some(graphAssortativitySql)),
    QueryDef("mst_forest", mstForest, Some(mstForestSql)),
    QueryDef("heavy_hitters", heavyHitterTokens, Some(heavyHittersSql)),
    QueryDef("approx_topk", approxTopKTokens, Some(approxTopKSql)),
    QueryDef("approx_quantiles", approxQuantilesBinned, Some(approxQuantilesSql)),
    QueryDef("approx_quantiles_grouped", approxQuantilesGrouped,
      Some(approxQuantilesGroupedSql)),
    QueryDef("approx_distinct_kmv", approxDistinctKmv, Some(approxDistinctKmvSql)),
    QueryDef("approx_freq_cms", approxFreqCms, Some(approxFreqCmsSql)),
    QueryDef("cms_join_size", cmsJoinSize, Some(cmsJoinSizeSql)),
    QueryDef("skyline_parts", skylineParts, Some(skylineSql)),
    QueryDef("typo_join", typoJoin, Some(typoJoinSql)),
    QueryDef("typo_index_build", typoIndexBuild, Some(typoIndexBuildSql)),
    QueryDef("gap_fill", gapFill, Some(gapFillSql)),
  )
}
