package graft.dedup

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the training-data-
  * pipeline surface: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup (embedding variant lives with the
  * similarity module's helpers).
  *
  * The synthetic corpus has no duplicates, so each query runs over
  * [[dupCorpus]]: the documents table UNION ALL a copy of the `src0`
  * slice with shifted doc_ids — 25 planted exact duplicates with known
  * ids, giving every detector a non-empty, verifiable answer while
  * natural near-collisions remain possible.
  *
  * Scale design:
  *  - signatures/fingerprints are computed per-row inside array
  *    higher-order functions: narrow, codegen'd, no shuffle, no UDF.
  *  - candidate generation shuffles on the signature/band/shingle key
  *    (never an O(n²) cross join); the only pairwise work happens at
  *    candidate-pair cardinality.
  *  - frequency caps bound worst-case pair blowup from hot shingles
  *    (the classic posting-list cutoff); the cap is part of the
  *    declared semantics and mirrored in the oracle.
  */
object DedupQueries {

  private def toks(c: Column): Column =
    filter(split(c, " "), t => length(t) > 0)

  /** Distinct 3-token shingles of the text (empty for <3 tokens). */
  private def shingles(c: Column): Column = {
    val t = toks(c)
    array_distinct(
      when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2), i => concat_ws(" ",
          element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
        .otherwise(typedLit(Array.empty[String])))
  }

  /** Distinct 32-bit base hashes of the 3-token shingles (first 8 md5
    * hex chars as an integer). All downstream work — min-hashing,
    * posting lists, Jaccard — runs on these longs instead of shingle
    * strings: one md5 per shingle total, and set operations on 8-byte
    * values instead of ~30-byte strings. 32-bit collisions perturb a
    * ~100-element Jaccard by <1e-7 in expectation — part of the
    * declared semantics, mirrored in the oracle. Computed by the native
    * fused kernel ([[graft.functions.ShingleHash32]]); the composed
    * form below documents the identical semantics in built-ins and is
    * parity-tested in DedupSpec.
    */
  private def shingleHashes(c: Column): Column =
    graft.functions.HashFunctions.shingleHash32(c)

  /** Built-ins-only twin of [[shingleHashes]] (interpreted HOFs — ~20×
    * slower; kept as executable documentation + parity check).
    */
  private[dedup] def shingleHashesComposed(c: Column): Column =
    array_distinct(transform(shingles(c), s =>
      conv(substring(md5(s), 1, 8), 16, 10).cast("long")))

  private val shingleHashSql =
    """list_distinct(list_transform(
         list_transform(range(1, greatest(len(t) - 1, 1)),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
         s -> ('0x' || substr(md5(s), 1, 8))::BIGINT))"""

  /** 16 affine rehashes of the base hash: h_j(x) = (a_j*x + b_j) mod P,
    * P = 4294967311 (prime > 2^32), a_j odd 31-bit — products stay
    * under 2^63 in both engines. One md5 per shingle; the 16 minhash
    * passes are pure integer math.
    */
  private[graft] val hashParams: Seq[(Long, Long)] = Seq(
    (114060685L, 287214675L), (658016613L, 1798685852L),
    (1761721497L, 1276361822L), (516347111L, 173320195L),
    (1034123049L, 781389125L), (1490082987L, 1994458317L),
    (1263980515L, 1536417746L), (373428981L, 762499639L),
    (1284903395L, 869725180L), (97658015L, 1270950602L),
    (570517315L, 669059531L), (1689677235L, 2007647645L),
    (1509779901L, 770577552L), (1001072045L, 274222389L),
    (1024637813L, 989941651L), (731651807L, 1986382793L))

  private[graft] val MinhashP = 4294967311L

  /** The 16 min-hashes of `sh` as ONE fused kernel pass
    * ([[graft.functions.MinHashes]]; round 16) — value-identical to
    * the composed per-rehash form kept in [[minHashesComposed]] and
    * parity-pinned in DedupSpec; the composed form ran 16 interpreted
    * lambda passes (and 17 array allocations) per row.
    */
  private def minHashesCol: Column =
    graft.functions.HashFunctions.minHashes(col("sh"), hashParams, MinhashP)

  /** Built-ins-only twin of [[minHashesCol]] (interpreted HOFs; kept
    * as executable documentation + parity check).
    */
  private[dedup] def minHashesComposed: Column =
    array(hashParams.map { case (a, b) =>
      array_min(transform(col("sh"), h => (h * a + b) % MinhashP))
    }: _*)

  private[graft] def dupCorpus(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), col("text"))
      .unionAll(
        t.documents.filter(col("source") === "src0")
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))

  /** Fan a small scan out to cluster width before heavy per-row
    * compute ([[graft.core.Par.spread]] — conditional, a no-op on
    * already-wide scans; without it the local single-split documents
    * table shingles on one core, measured 5-8 s of the 25 s minhash
    * wall-clock in round 1).
    */
  private def spread(df: DataFrame): DataFrame = graft.core.Par.spread(df)

  /** Shuffle computed shingle signatures on `doc_id` — a deliberate
    * Exchange directly above the md5 kernel so every downstream
    * consumer reuses ONE kernel computation (AQE/ReuseExchange dedups
    * identical exchange subtrees within an execution). The payload is
    * (doc_id, hashes) — the text column is gone, so the shuffle is
    * ~8 bytes/shingle, cheap at any scale, vs re-running one md5 per
    * shingle per consumer (2-3× kernel cost measured in round 1).
    *
    * The partition count is pinned (REPARTITION_BY_NUM) so AQE does
    * not coalesce this stage down to its input byte size: consumers
    * EXPAND the data (band explode, pair generation), and sizing their
    * parallelism by the exchange's ~1 MB input starves them to a
    * handful of cores (measured 2-3× slowdown on the downstream stage).
    */
  private def reuseByDoc(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      col("doc_id"))

  /** Pinned-width repartition on an arbitrary key (same AQE-coalesce
    * opt-out as [[reuseByDoc]]) for shuffles whose downstream stage
    * multiplies the data.
    */
  private def spreadBy(df: DataFrame, c: Column): DataFrame =
    graft.core.Par.spreadBy(df, c)

  private val dupCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE source = 'src0'"""

  /** Exact dedup: group by content hash, keep the lowest doc_id as the
    * canonical representative. One shuffle on the hash — at 100 TB this
    * is the cheapest possible dedup (hash is 16 bytes/row on the wire).
    */
  val exact = Query(
    "dd_exact",
    (s, dir) => {
      dupCorpus(Tables(s, dir))
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .filter(col("n") > 1)
        .orderBy(col("keeper"))
    },
    oracle = Some(s"""
      SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
      FROM ($dupCorpusSql)
      GROUP BY 1 HAVING count(*) > 1 ORDER BY keeper
    """),
    headline = true,
  )

  /** Per-source duplication profile — the corpus-health report a
    * pipeline publishes before/after a dedup pass: for every source,
    * how many documents it ships, how many distinct texts that is,
    * what fraction is redundant, and the worst clone count. Runs over
    * the same planted corpus as [[exact]] (a full `src0` replica),
    * so `src0` reports dup_rate = 0.5 with every text cloned twice
    * while every other source reports 0 — non-vacuous by construction.
    *
    * Scale shape: two hash aggregations — (source, md5) partial agg
    * rides the scan so only 16-byte hashes cross the wire (same
    * cheapest-possible-dedup shape as [[exact]]), then a per-source
    * rollup of ≤ sources×uniques → ≤ sources rows.
    */
  val dupStats = Query(
    "dd_dup_stats",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      docs.select(col("source"), col("text"))
        .unionAll(docs.filter(col("source") === "src0")
          .select(col("source"), col("text")))
        .groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_uniq"),
          round(lit(1.0) - count(lit(1)).cast("double") / sum(col("cnt")), 4)
            .as("dup_rate"),
          max(col("cnt")).cast("long").as("max_clone"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH c AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT source, text FROM documents WHERE source = 'src0'
      ), g AS (
        SELECT source, md5(text) AS h, count(*) AS cnt
        FROM c GROUP BY 1, 2
      )
      SELECT source, sum(cnt)::BIGINT AS n_docs, count(*)::BIGINT AS n_uniq,
        round(1.0 - count(*)::DOUBLE / sum(cnt), 4) AS dup_rate,
        max(cnt)::BIGINT AS max_clone
      FROM g GROUP BY 1 ORDER BY 1
    """),
  )

  /** MinHash + LSH near-dup: 16 affine min-hashes per doc over the
    * 32-bit shingle base hashes (4 bands × 4 rows), band-bucket join
    * for candidates, exact hashed-shingle Jaccard on candidates only.
    *
    * Signature computation is per-row and narrow — one md5 per shingle
    * plus pure integer math for all 16 hash functions; the candidate
    * join shuffles on the band key (the standard at-scale shape, no
    * cross join anywhere); Jaccard touches only candidate pairs.
    */
  val minhashLsh = Query(
    "dd_minhash_lsh",
    (s, dir) => {
      val t  = Tables(s, dir)
      // Shape note: at bench scale the signature frame is consumed
      // inline by each of its 3 consumers (bands + the two Jaccard
      // rejoins) — the kernel is ~0.2 s and re-running it in parallel
      // beats chaining extra exchange barriers (measured 1.1 s vs
      // 1.9 s with a reuse exchange). At 100 TB, where re-scanning the
      // corpus dominates, insert the [[reuseByDoc]] exchange here —
      // the AQE stage-reuse plumbing is proven by dd_clean_corpus
      // (ReusedExchange ×6 in its final plan), whose consumers are all
      // JOINS; beware mixing an aggregate consumer onto the same
      // exchange, which breaks canonical matching (see dd_dup_passages'
      // plan note in PLANS.md).
      val sh = spread(dupCorpus(t))
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
      val mh = minHashesCol
      val bandKeys = array((0 until 4).map { b =>
        concat_ws(":", lit(b.toString) +:
          (0 until 4).map(r => element_at(col("mh"), b * 4 + r + 1)
            .cast("string")): _*)
      }: _*)
      // band-frequency cap (≤50 docs per band, the LSH analog of the
      // n-gram df cap): a boilerplate band shared by millions of docs
      // would otherwise emit quadratic pairs from one bucket. The count
      // is a window over the band key — one bounded counter per band,
      // and the band shuffle it induces is the same exchange the
      // self-join needs, reused on both sides. Part of the declared
      // semantics, mirrored in the oracle.
      val wBand = org.apache.spark.sql.expressions.Window.partitionBy(col("bh"))
      val bands = sh.withColumn("mh", mh)
        .select(col("doc_id"), explode(bandKeys).as("bh"))
        .withColumn("bc", count(lit(1)).over(wBand))
        .filter(col("bc") <= 50).drop("bc")
      val cands = bands.as("a")
        .join(bands.as("b"), col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      cands
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("inter",
          graft.functions.HashFunctions.intersectSize(col("sh_a"), col("sh_b")))
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4)
            .as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = {
      val mhList = hashParams.map { case (a, b) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % $MinhashP))"
      }.mkString("[", ", ", "]")
      val bandList = (0 until 4).map { b =>
        val parts = (0 until 4).map(r => s"mh[${b * 4 + r + 1}]::VARCHAR")
        s"'$b:' || " + parts.mkString(" || ':' || ")
      }.mkString("[", ", ", "]")
      Some(s"""
      WITH corpus AS ($dupCorpusSql),
      sh AS (
        SELECT doc_id, $shingleHashSql AS sh
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM corpus)
        WHERE len(t) >= 3
      ),
      mh AS (SELECT doc_id, sh, $mhList AS mh FROM sh),
      bands0 AS (SELECT doc_id, unnest($bandList) AS bh FROM mh),
      bands AS (
        SELECT doc_id, bh FROM (
          SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bc
          FROM bands0)
        WHERE bc <= 50
      ),
      cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id
      )
      SELECT id_a, id_b,
        round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
          (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4)
          AS jaccard
      FROM cands
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
      ORDER BY id_a, id_b
    """)
    },
    headline = true,
  )

  /** MinHash band-bucket candidate pairs for a `(doc_id, sh)` signature
    * frame: 16 affine min-hashes → 4 bands × 4 rows → band-key
    * equi-join (bands capped at ≤50 docs — see the cap note in
    * [[minhashLsh]]), `id_a < id_b`, deduplicated. The shared LSH
    * front-end of [[minhashLsh]], [[cleanCorpus]] and [[dupClusters]].
    */
  private def bandPairs(sh: DataFrame): DataFrame = bandPairsCfg(sh, 4, 4)

  /** [[bandPairs]] generalized over the banding shape: `nBands` bands
    * of `rowsPer` consecutive min-hashes each (nBands·rowsPer ≤ 16 —
    * the shared signature is reused, no re-hash per config). The
    * tuning dial [[lshTuning]] sweeps this.
    */
  private def bandPairsCfg(sh: DataFrame, nBands: Int, rowsPer: Int): DataFrame = {
    require(nBands * rowsPer <= hashParams.length, "not enough min-hashes")
    val mh = minHashesCol
    val bandKeys = array((0 until nBands).map { b =>
      concat_ws(":", lit(b.toString) +:
        (0 until rowsPer).map(r => element_at(col("mh"), b * rowsPer + r + 1)
          .cast("string")): _*)
    }: _*)
    val wBand = org.apache.spark.sql.expressions.Window.partitionBy(col("bh"))
    val bands = sh.withColumn("mh", mh)
      .select(col("doc_id"), explode(bandKeys).as("bh"))
      .withColumn("bc", count(lit(1)).over(wBand))
      .filter(col("bc") <= 50).drop("bc")
    bands.as("a")
      .join(bands.as("b"), col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Exact hashed-shingle Jaccard (`jac`, unrounded) for candidate
    * pairs, via two rejoins against the signature frame.
    */
  private def withJaccard(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter",
        graft.functions.HashFunctions.intersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))

  /** Connected components over an `(id_a, id_b)` edge list →
    * `(id, lbl)` where `lbl` is the minimum id of the component.
    *
    * Near-dup edge lists are bounded and tiny relative to the corpus
    * (candidate pairs only — the corpus itself never enters), so the
    * default path ships the whole edge list to ONE executor task and
    * runs union-find with path compression there: a single narrow
    * stage, no per-round driver actions. This is executor-side, not a
    * driver collect, and the threshold (50M edges ≈ 800 MB of longs)
    * keeps it inside one task's memory comfortably.
    *
    * Above the threshold it falls back to iterative min-label
    * propagation, run to FIXPOINT (rounds = component diameter —
    * shallow for near-dup clusters, but a >16-diameter chain of
    * templated text must converge too, never silently truncate); each
    * round is one join + one groupBy on the edge list only — the
    * standard iterative-graph pattern, with a localCheckpoint every 4
    * rounds to keep plan lineage bounded.
    */
  private[graft] def connectedComponents(
      edges: DataFrame,
      unionFindMaxEdges: Long = 50L * 1000 * 1000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("id_a"), col("id_b")).persist()
    val n = e.count() // materializes the (tiny) edge cache
    if (n <= unionFindMaxEdges) {
      val labels = e
        .select(col("id_a").cast("long").as("_1"), col("id_b").cast("long").as("_2"))
        .as[(Long, Long)].repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x // path compression
            while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
          parent.keys.foreach { id =>
            val r = find(id)
            minOfRoot(r) = math.min(minOfRoot.getOrElse(r, id), id)
          }
          parent.keys.iterator.map(id => (id, minOfRoot(find(id))))
        }
        .toDF("id", "lbl")
      // NOTE: `e` stays persisted — the returned frame reads it when the
      // caller's action runs (unpersisting here would silently re-run
      // the whole edge pipeline at materialization time). Nothing ever
      // releases it: Spark's CacheManager keeps a persisted plan until
      // `unpersist`, whatever becomes of the frame, so the cache lives
      // for the session, and a later call over an identical edge plan
      // (every `textPurgeIds`) finds it warm — and logs "Asked to cache
      // already cached data" at the `persist()` above.
      return labels
    }
    val bidir = e.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(e.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = bidir.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).persist()
    var cached  = labels // the frame actually persisted this round
    var changed = 1L
    var rounds  = 0
    // Loop to FIXPOINT — never exit with unconverged labels (a silent
    // 16-round cap would emit WRONG cluster labels for any component of
    // diameter > 16, e.g. a long chain of templated near-dups). The
    // loop always terminates: labels decrease monotonically and stop
    // changing after diameter(G) rounds ≤ #nodes. Every few rounds the
    // label frame is localCheckpoint'ed so plan lineage stays bounded
    // (each round otherwise stacks a join+agg on the previous plan).
    // The node-count bound below is pure defense: hitting it means the
    // monotone-convergence invariant itself broke, which must be loud.
    val maxRounds = math.max(16L, 2L * n + 2)
    while (changed > 0) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $rounds rounds " +
            s"($n edges) — monotone label propagation cannot legally " +
            "take more rounds than nodes; aborting instead of emitting " +
            "unconverged cluster labels")
      val nbrMin = bidir
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src")).agg(min(col("nlbl")).as("nbr"))
        .select(col("src").as("id"), col("nbr"))
      // carry the previous label through the round so the fixpoint
      // check is a filter on the materialized frame, not a second join
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
      val next =
        if (rounds % 4 == 3) stepped.localCheckpoint() // truncates lineage
        else stepped.persist()
      changed = next.filter(col("lbl") =!= col("prev")).count()
      cached.unpersist()
      cached = next
      labels = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    bidir.unpersist()
    e.unpersist()
    labels
  }

  /** The recursive-CTE twin of [[connectedComponents]]: expects an
    * `edges(id_a, id_b)` CTE, defines `bidir` and `walk(id, lbl)`.
    * `min(lbl) GROUP BY id` over `walk` is the component label.
    */
  private[graft] val ccWalkSql = """
      bidir AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM edges
      ),
      walk(id, lbl) AS (
        SELECT DISTINCT src, src FROM bidir
        UNION
        SELECT b.dst, w.lbl FROM walk w JOIN bidir b ON b.src = w.id
      )"""

  /** The SQL twin of [[bandPairs]]+[[withJaccard]] up to the `cands`
    * CTE, reading documents from the CTE named `src`.
    */
  private def bandCandSql(src: String = "corpus"): String = {
    val mhList = hashParams.map { case (a, b) =>
      s"list_min(list_transform(sh, h -> (h * $a + $b) % $MinhashP))"
    }.mkString("[", ", ", "]")
    val bandList = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"mh[${b * 4 + r + 1}]::VARCHAR")
      s"'$b:' || " + parts.mkString(" || ':' || ")
    }.mkString("[", ", ", "]")
    s"""
      sh AS (
        SELECT doc_id, $shingleHashSql AS sh
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM $src)
        WHERE len(t) >= 3
      ),
      mh AS (SELECT doc_id, sh, $mhList AS mh FROM sh),
      bands0 AS (SELECT doc_id, unnest($bandList) AS bh FROM mh),
      bands AS (
        SELECT doc_id, bh FROM (
          SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bc
          FROM bands0)
        WHERE bc <= 50
      ),
      cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id
      )"""
  }

  /** Transitive near-duplicate clusters: connected components over the
    * MinHash candidate pairs with Jaccard ≥ 0.5, canonical
    * representative = min doc_id per component. Emits (doc_id, cluster)
    * for every document that participates in at least one near-dup
    * pair — the semantic a production corpus dedup wants; the same
    * component machinery drives [[cleanCorpus]]'s near-dup drop stage.
    *
    * Components are computed by iterative min-label propagation over
    * the edge list: each round every node takes the min of its own and
    * its neighbors' labels; rounds = component diameter (near-dup
    * clusters are shallow — chains of near-identical docs), run to
    * fixpoint with periodic lineage checkpoints. Each round is one
    * join + one groupBy on the (tiny) edge list — the corpus itself is
    * never touched after edge extraction. Labels persist between
    * rounds (the standard iterative-graph pattern). Oracle: DuckDB
    * recursive CTE computing min reachable id.
    */
  /** The ONE text near-dup cluster frame — shingle → banded candidates
    * → Jaccard ≥ 0.5 → connected components, labeled with the min-id
    * representative — shared by [[dupClusters]] (the report) and
    * [[purgePlanQ]] (the action), so the purge list can never be cut
    * against a different clustering than the one reported.
    */
  private[graft] def textClusters(s: SparkSession, dir: String): DataFrame = {
    val t  = Tables(s, dir)
    val sh = spread(dupCorpus(t))
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val edges = withJaccard(bandPairs(sh), sh)
      .filter(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"))
    connectedComponents(edges)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  val dupClusters = Query(
    "dd_dup_clusters",
    (s, dir) => textClusters(s, dir).orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH RECURSIVE corpus AS ($dupCorpusSql),
      ${bandCandSql()},
      edges AS (
        SELECT id_a, id_b FROM cands
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= 0.5
      ),
      $ccWalkSql
      SELECT id AS doc_id, min(lbl) AS cluster
      FROM walk GROUP BY id ORDER BY doc_id
    """),
  )

  /** Generic purge-plan emitter — the ACTION step that turns any
    * modality's near-dup clusters into a smaller corpus: keep = the
    * cluster REPRESENTATIVE (the label, i.e. min id per component),
    * purge every other member, and route each decision to the shard
    * that physically holds the document (`tx_shards`' salted-md5 key,
    * one definition of the shard function across layout and deletion)
    * so a deletion worker per shard can apply its list with no further
    * shuffle. Takes any (doc_id, cluster) frame — the text, image,
    * audio, and video cluster chains all produce one (PurgePlanSpec
    * runs all four through this); the oracle-gated registry entry is
    * the text modality. Per-row integer/hash work only: the plan adds
    * ZERO shuffles beyond the cluster chain it consumes.
    */
  /** The tx_shards salted-md5 shard key — ONE definition across the
    * lake layout ([[shardedCorpus]]), the deletion lists
    * ([[purgePlan]]), and the deletion pass ([[applyPurge]]), so a
    * purge row can never route to a shard its document doesn't live in.
    */
  private[graft] def shardOf(id: Column): Column = conv(
    substring(md5(concat(lit("shard1:"), id)), 1, 8), 16, 10)
    .cast("long") % 16

  private[graft] def purgePlan(clusters: DataFrame): DataFrame =
    clusters.select(
      shardOf(col("doc_id")).as("shard"), col("doc_id"), col("cluster"),
      when(col("doc_id") === col("cluster"), "keep")
        .otherwise("purge").as("action"))

  /** Per-shard dedup deletion lists over the text near-dup clusters —
    * [[dupClusters]]' transitive closure turned into the action a
    * pipeline executes: one keep per cluster (the representative),
    * purge rows for the rest, routed by shard. Documents in no cluster
    * are implicit keeps and carry no row (no decision to apply);
    * PurgePlanSpec pins keep-one-per-cluster, purge+keep = cluster
    * members, and corpus = members + untouched singletons, for ALL
    * FOUR modality chains.
    */
  /** Shared oracle chain ending in `cl(doc_id, cluster)` — the DuckDB
    * twin of [[textClusters]] (planted corpus → banded candidates →
    * Jaccard ≥ 0.5 edges → recursive closure → min-label clusters);
    * callers prepend `WITH RECURSIVE`. Used by `dd_purge_plan` and
    * `tx_corpus_ledger` so the oracles consume the one clustering.
    */
  private[graft] val textClusterCtes = s"""corpus AS ($dupCorpusSql),
      ${bandCandSql()},
      edges AS (
        SELECT id_a, id_b FROM cands
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= 0.5
      ),
      $ccWalkSql,
      cl AS (SELECT id AS doc_id, min(lbl) AS cluster
             FROM walk GROUP BY id)"""

  /** THE corpus purge list — [[purgePlan]]'s purge rows intersected
    * with the real corpus (the cluster frame also names the PLANTED
    * duplicate ids, which never entered the lake), carrying the shard
    * routing. One definition shared by `dd_purge_apply` (the lake
    * deletion) and every persisted-index delete path (`tx_index_delete`,
    * `dd_band_delete`), so the lake and the serving indexes are always
    * cut against the SAME list — the purge-propagation invariant.
    */
  private[graft] def textPurgeIds(s: SparkSession, dir: String): DataFrame =
    purgePlan(textClusters(s, dir))
      .filter(col("action") === "purge")
      .join(Tables(s, dir).documents.select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("shard"), col("doc_id"))

  /** Oracle CTE `purged(doc_id)` — the DuckDB twin of [[textPurgeIds]];
    * callers prepend `WITH RECURSIVE $textClusterCtes`.
    */
  private[graft] val textPurgedCte = """purged AS (
        SELECT doc_id FROM cl
        WHERE doc_id <> cluster AND doc_id IN (SELECT doc_id FROM documents)
      )"""

  val purgePlanQ = Query(
    "dd_purge_plan",
    (s, dir) => purgePlan(textClusters(s, dir)).orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH RECURSIVE $textClusterCtes
      SELECT ('0x' || substr(md5('shard1:' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 16 AS shard,
             doc_id, cluster,
             CASE WHEN doc_id = cluster THEN 'keep' ELSE 'purge' END
               AS action
      FROM cl ORDER BY doc_id
    """),
  )

  /** The corpus laid out as the shard-partitioned lake [[purgePlan]]
    * routes against: one Hive partition per tx_shards shard key,
    * published once per corpus generation (atomic build + stale-
    * generation GC, the persisted-index discipline). This is the
    * layout that makes the deletion pass embarrassingly parallel: a
    * shard's purge list lands exactly on the directory holding its
    * documents.
    */
  private[graft] def shardedCorpus(s: SparkSession, dir: String): String =
    synchronized {
      graft.core.IndexDirs.publishCurrent(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", "graft_shard_corpus") { tmp =>
        Tables(s, dir).documents
          .withColumn("shard", shardOf(col("doc_id")))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(s"$tmp/docs")
      }
    }

  /** Execute a purge plan against the sharded lake — the deletion pass
    * SCALE.md promises: each TOUCHED shard directory rewrites as an
    * anti-join of its own rows against its own deletion list (an
    * embarrassingly-parallel per-shard operation — the plan arrives
    * pre-routed on the same key the layout partitions by), all shards
    * committed in ONE dynamic-partition-overwrite job
    * ([[graft.operators.IndexMerge.delete]], per-shard compaction
    * included); untouched
    * shard directories keep their files byte-identical. Idempotent: a
    * re-applied list anti-joins to a no-op. Returns the touched shards.
    * Layout-generic: `sub` is the partitioned table's subdirectory and
    * `key` its id column — the text lake is `docs`/`doc_id`, the media
    * lake `media`/`media_id` (the blob column rides through the
    * rewrite untouched; only its shard's rows ever move).
    */
  def applyPurge(s: SparkSession, layout: String, plan: DataFrame,
      sub: String = "docs", key: String = "doc_id"): Seq[Long] = {
    val conf = s.sparkContext.hadoopConfiguration
    val docsRoot = new org.apache.hadoop.fs.Path(s"$layout/$sub")
    val fs = docsRoot.getFileSystem(conf)
    require(fs.exists(docsRoot), s"no sharded corpus at $layout")
    val routed = plan.select(col("shard"), col(key)).persist()
    try {
      val touched = routed.select(col("shard")).distinct()
        .collect().map(_.getLong(0)).sorted // bounded: ≤ 16 shards
      // ONE dynamic-partition-overwrite commit across exactly the
      // shards holding a purged key; the purge plan already routes
      // each key to its salted-md5 shard, so it IS the exact locating
      // hint (r16, [[graft.operators.StoredAt]]) — the kernel reads
      // only the routed shards, no stats scan, and the blob column
      // never leaves the pruned ReadSchema. A fully-purged shard's
      // directory clears, exactly what a rebuild over the survivors
      // produces.
      graft.operators.IndexMerge.delete(s, s"$layout/$sub", "shard", key,
        routed.select(col(key)),
        hint = Some(graft.operators.StoredAt(
          routed.select(col(key), col("shard")))))
      s.catalog.refreshByPath(layout)
      touched
    } finally routed.unpersist()
  }

  /** The deletion pass under the gate — [[purgePlanQ]] emits the
    * lists; this row EXECUTES them against the sharded lake and
    * reports, per shard, the surviving document count READ BACK FROM
    * THE LAYOUT next to the plan's purge count — so the row passes
    * only if the physical deletion removed exactly the planned rows in
    * exactly the planned shards (surviving + purged must reconcile to
    * the corpus, which the oracle recomputes from scratch). Purge ids
    * are intersected with the real corpus first: the cluster frame
    * also names the PLANTED duplicate ids, which never entered the
    * lake. Applied once per corpus generation (a re-run sees no plan
    * id in the layout and skips — the deletion is already durable;
    * idempotence itself is PurgeApplySpec's pin).
    */
  /** The text lake in its POST-PURGE state — `shardedCorpus` with the
    * cluster-chain purge durably applied, recorded by a
    * `_purge_applied` marker so consumers (the manifest's lake audit)
    * never re-derive the cluster chain once the deletion is durable
    * (the tx_index_delete marker discipline). Crash between the apply
    * and the marker: the re-run re-derives the list once, anti-joins
    * to a no-op, and writes the marker.
    */
  private[graft] def ensurePurgedTextLake(s: SparkSession,
      dir: String): String = {
    val layout = shardedCorpus(s, dir)
    graft.core.IndexDirs.appliedOnce(s.sparkContext.hadoopConfiguration,
        layout, "_purge_applied") {
      val plan = textPurgeIds(s, dir)
      val remaining = s.read.parquet(s"$layout/docs")
        .join(plan.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .limit(1).collect()
      if (remaining.nonEmpty) applyPurge(s, layout, plan)
    }
    layout
  }

  val purgeApply = Query(
    "dd_purge_apply",
    (s, dir) => {
      val layout = ensurePurgedTextLake(s, dir)
      val plan = textPurgeIds(s, dir)
      val survived = s.read.parquet(s"$layout/docs")
        .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
        // the layout's partition column reads back int32 — put int64
        // on the wire like every other query (and match the plan's key)
        .select(col("shard").cast("long").as("shard"), col("n_docs"))
      val purged = plan.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_purged"))
      // FULL outer: a shard whose documents were ALL purged has no
      // surviving row to group, but the oracle still reports it with
      // n_docs = 0 — a left join would drop it (r11 advice; unreachable
      // at the tested SFs, divergent at other corpus shapes)
      survived.join(purged, Seq("shard"), "full")
        .select(col("shard"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_purged"), lit(0L)).as("n_purged"))
        .orderBy(col("shard"))
    },
    oracle = Some(s"""
      WITH RECURSIVE $textClusterCtes,
      $textPurgedCte,
      routed AS (
        SELECT d.doc_id,
          ('0x' || substr(md5('shard1:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
            % 16 AS shard,
          (p.doc_id IS NOT NULL) AS is_purged
        FROM documents d LEFT JOIN purged p USING (doc_id))
      SELECT shard,
        sum(CASE WHEN is_purged THEN 0 ELSE 1 END)::BIGINT AS n_docs,
        sum(CASE WHEN is_purged THEN 1 ELSE 0 END)::BIGINT AS n_purged
      FROM routed GROUP BY 1 ORDER BY 1
    """),
  )

  /** Leakage-safe train/holdout split: assign documents to splits by a
    * hash of their NEAR-DUP CLUSTER representative, never of the raw
    * doc_id — the split discipline a pretraining pipeline needs so a
    * held-out document's near-duplicate cannot sit in the training
    * side and leak the eval (the GPT-2/GPT-3 papers' contamination
    * lesson, and the reason dedup and split assignment must agree on
    * one clustering). Clusters come from the same MinHash-LSH
    * candidate + Jaccard ≥ 0.5 + connected-components chain as
    * [[dupClusters]]; singleton documents are their own cluster.
    *
    * The split hash is an affine multiplicative hash (Knuth's 2654435761)
    * mod 1024 against a 921 (~90 %) threshold — engine-neutral integer
    * math, the same rationale as [[hashParams]]' affine rehashes: a
    * seeded xxhash64 would be the production choice but no two engines
    * agree on it, and the gate must. 100000·K ≡ 0 (mod 1000), so a
    * power-of-two modulus is load-bearing: a decimal modulus would
    * park every planted (d, d+100000) pair on the same side and make
    * the leakage metric vacuous.
    *
    * Output: per-split doc/cluster counts plus `leaked_naive_clusters`
    * — how many multi-document clusters a NAIVE doc_id-hash split
    * would straddle (non-zero by construction on the planted corpus:
    * 5 of 25 planted pairs straddle at sf0.01). That one column is the
    * op's argument for existing.
    *
    * Scale shape: the cluster chain is [[dupClusters]] (banded, capped,
    * corpus never pairwise); the split assignment is a per-row integer
    * hash on a left join against the (tiny) cluster frame; the final
    * rollup is a 2-row aggregate crossed with a 1-row leakage count
    * (sanctioned 1-row broadcast).
    */
  val clusterSplit = Query(
    "dd_cluster_split",
    (s, dir) => {
      val t      = Tables(s, dir)
      val corpus = dupCorpus(t)
      val sh = spread(corpus)
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
      val edges = withJaccard(bandPairs(sh), sh)
        .filter(col("jac") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val clusters = connectedComponents(edges)
        .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      val K = 2654435761L
      def side(c: Column): Column =
        when(pmod(c * K, lit(1024L)) < 921, "train").otherwise("holdout")
      val assigned = corpus.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cl"))
        .withColumn("split", side(col("cl")))
        .withColumn("naive", side(col("doc_id")))
      val leaked = assigned.groupBy(col("cl"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("naive")).as("sides"))
        .filter(col("n") > 1 && col("sides") > 1)
        .agg(count(lit(1)).as("leaked_naive_clusters"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("cl")).as("n_clusters"))
        .crossJoin(broadcast(leaked))
        .orderBy(col("split"))
    },
    oracle = Some(s"""
      WITH RECURSIVE corpus AS ($dupCorpusSql),
      ${bandCandSql()},
      edges AS (
        SELECT id_a, id_b FROM cands
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= 0.5
      ),
      $ccWalkSql,
      clusters AS (
        SELECT id AS doc_id, min(lbl) AS cluster FROM walk GROUP BY id
      ),
      assigned AS (
        SELECT c.doc_id,
          coalesce(k.cluster, c.doc_id) AS cl,
          CASE WHEN (coalesce(k.cluster, c.doc_id) * 2654435761) % 1024 < 921
               THEN 'train' ELSE 'holdout' END AS split,
          CASE WHEN (c.doc_id * 2654435761) % 1024 < 921
               THEN 'train' ELSE 'holdout' END AS naive
        FROM corpus c LEFT JOIN clusters k ON k.doc_id = c.doc_id
      ),
      leaked AS (
        SELECT count(*) AS leaked_naive_clusters FROM (
          SELECT cl FROM assigned
          GROUP BY cl HAVING count(*) > 1 AND count(DISTINCT naive) > 1)
      )
      SELECT split, count(*) AS n_docs, count(DISTINCT cl) AS n_clusters,
             leaked_naive_clusters
      FROM assigned CROSS JOIN leaked
      GROUP BY split, leaked_naive_clusters ORDER BY split
    """),
  )

  /** SimHash: 60-bit similarity-preserving fingerprint per document
    * (low 60 bits of md5 per token; majority vote per bit). Entirely
    * per-row array math — embarrassingly parallel; pair search over the
    * fingerprints is a bit_count(xor) self-join or banded buckets
    * (exercised in the spec), both independent of document length.
    * 60 bits (15 hex chars) so the value stays in a signed BIGINT in
    * both engines.
    */
  val simhash = Query(
    "dd_simhash",
    (s, dir) => {
      spread(Tables(s, dir).documents.select(col("doc_id"), col("text")))
        .filter(size(toks(col("text"))) > 0)
        .select(col("doc_id"),
          graft.functions.HashFunctions.simhash60(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), h AS (
        SELECT doc_id, len(t) AS n,
          list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
        FROM t WHERE len(t) > 0
      )
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 60), i ->
          CASE WHEN 2 * len(list_filter(hs, h -> (h >> i) & 1 = 1)) >= n
               THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
      FROM h ORDER BY doc_id
    """),
  )

  /** N-gram Jaccard near-dup without sketching: inverted-index join on
    * shingles (posting-list style), with a doc-frequency cap of 50 on
    * shingles to bound pair blowup from hot n-grams, then Jaccard ≥ 0.5
    * on the co-occurrence counts. The cap is part of the declared
    * semantics (standard at scale) and mirrored in the oracle.
    */
  val ngramJaccard = Query(
    "dd_ngram_jaccard",
    (s, dir) => {
      val t  = Tables(s, dir)
      // ONE kernel pass; each posting row carries its document's
      // shingle-set size, so Jaccard needs no sizes rejoin at the end —
      // the whole query is 3 shuffles (postings, pair counts, final
      // sort) and ZERO joins. The size column costs 4 bytes/posting on
      // the wire; the two broadcast joins it replaces cost two extra
      // stages and a second pass over the signature frame.
      val postings = spread(dupCorpus(t))
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("sz"),
          explode(col("sh")).as("s"))
      // co-occurring pairs by reduce-side adjacent-group scan (the
      // reference's own reduce shape — mapreduce/user/Reducer O12 runs
      // the same sorted-group iteration): hash-partition the postings
      // on the shingle, sort within partitions, and stream each
      // shingle's ≤50 postings through a tiny buffer emitting i<j
      // pairs. Beats both the posting self-join (2 extra shuffles) and
      // a collect_list+explode formulation (measured 1.4 s vs 2.4 s:
      // no list objects, no array churn — one of the two sanctioned
      // mapPartitions sites, genuinely imperative). The df cap folds
      // into the buffer-length check, identical to the declared ≤50
      // semantics; hash partitioning guarantees a group never spans
      // partitions.
      val session = s
      import session.implicits._
      val pairs = postings
        .repartition(
          s.sessionState.conf.numShufflePartitions, col("s"))
        .sortWithinPartitions(col("s"), col("doc_id"))
        .select(col("s"), col("doc_id"), col("sz").cast("long").as("sz"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](64)
          var curS = Long.MinValue
          var first = true
          new Iterator[(Long, Long)] {
            private var out: Iterator[(Long, Long)] =
              Iterator.empty
            private def emit(): Iterator[(Long, Long)] = {
              if (buf.length < 2 || buf.length > 50) return Iterator.empty
              val snap = buf.toArray // ≤50 entries → ≤1225 pairs
              snap.indices.iterator.flatMap { i =>
                val (da, sa) = snap(i)
                (i + 1 until snap.length).iterator.flatMap { j =>
                  val (db, sb) = snap(j)
                  // length filter (PPJoin-style): jac = i/(sa+sb-i) with
                  // i ≤ min(sa,sb) caps at min/max, so jac ≥ 0.5 is
                  // impossible when max > 2·min — drop those pairs
                  // BEFORE the shuffle; the declared output (pairs with
                  // jac ≥ 0.5) is untouched
                  // pack (id, sz) into one long each (sz < 2^20 —
                  // shingle sets of ≤1000-char docs are far smaller):
                  // halves the pair-shuffle width to 16 bytes/pair and
                  // gives the count aggregation 2-long keys
                  if (sb <= 2 * sa && sa <= 2 * sb)
                    Iterator.single(((da << 20) | sa, (db << 20) | sb))
                  else Iterator.empty
                }
              }
            }
            def hasNext: Boolean = {
              while (!out.hasNext && (it.hasNext || buf.nonEmpty)) {
                if (!it.hasNext) { out = emit(); buf.clear() }
                else {
                  val (sv, d, z) = it.next()
                  // the (id << 20 | sz) packing below is only lossless
                  // inside these bounds (sz < 2^20 holds for any
                  // ≤1000-char record's shingle set; id < 2^43 covers
                  // 8T docs) — a violated assumption must fail loudly,
                  // not corrupt Jaccard pairs
                  require(z < (1L << 20) && d >= 0 && d < (1L << 43),
                    s"pair-key packing overflow: doc_id=$d sz=$z")
                  if (first || sv == curS) {
                    buf += ((d, z)); curS = sv; first = false
                  } else {
                    out = emit(); buf.clear(); buf += ((d, z)); curS = sv
                  }
                }
              }
              out.hasNext
            }
            def next(): (Long, Long) = out.next()
          }
        }
        .toDF("ka", "kb")
      pairs.groupBy(col("ka"), col("kb"))
        .agg(count(lit(1)).as("inter"))
        .select(
          shiftright(col("ka"), 20).as("id_a"),
          shiftright(col("kb"), 20).as("id_b"),
          (col("ka").bitwiseAND(lit((1L << 20) - 1)) +
            col("kb").bitwiseAND(lit((1L << 20) - 1)) - col("inter"))
            .as("un"),
          col("inter"))
        .withColumn("jaccard",
          round(col("inter").cast("double") / col("un"), 4))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some(s"""
      WITH corpus AS ($dupCorpusSql),
      sh AS (
        SELECT doc_id, unnest($shingleHashSql) AS s
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM corpus)
        WHERE len(t) >= 3
      ),
      posting AS (
        SELECT doc_id, s FROM sh
        WHERE s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50)
      ),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
      SELECT id_a, id_b,
        round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.5
      ORDER BY id_a, id_b
    """),
  )

  /** Incremental (CDC-style) dedup: drop incoming docs whose content
    * hash already exists in the corpus — the production shape for
    * continuously-ingested corpora, where re-running full dedup per
    * batch is unaffordable. One anti join on 16-byte hashes; the
    * corpus side would be a bucketed hash table at scale.
    */
  def incremental(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val known = existing.select(md5(col("text")).as("h")).distinct()
    incoming
      .withColumn("h", md5(col("text")))
      .join(known, Seq("h"), "left_anti")
      .drop("h")
  }

  /** [[incremental]] as a declared query: the nightly-ingest CDC shape.
    * The incoming batch replays the `src0` slice verbatim (must all be
    * rejected — content already in the corpus) and brings modified
    * `src1` docs (unseen content — admitted). One hash anti join; at
    * 100 TB the `known` side shuffles as 16-byte hashes, never text.
    */
  val incrementalDedup = Query(
    "dd_incremental",
    (s, dir) => {
      val d = Tables(s, dir).documents
      val existing = d.select(col("doc_id"), col("text"))
      val incoming = d.filter(col("source") === "src0")
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
        .unionAll(d.filter(col("source") === "src1")
          .select((col("doc_id") + 400000).as("doc_id"),
            concat(col("text"), lit(" fresh")).as("text")))
      incremental(existing, incoming)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH existing AS (SELECT DISTINCT md5(text) AS h FROM documents),
      incoming AS (
        SELECT doc_id + 300000 AS doc_id, text FROM documents
        WHERE source = 'src0'
        UNION ALL
        SELECT doc_id + 400000 AS doc_id, text || ' fresh' AS text
        FROM documents WHERE source = 'src1')
      SELECT doc_id FROM incoming
      WHERE md5(text) NOT IN (SELECT h FROM existing)
      ORDER BY doc_id
    """),
  )

  /** Incremental NEAR-dup admission — the nightly-ingest companion of
    * [[incrementalDedup]] (which is exact-hash only): a new batch is
    * screened against the EXISTING corpus through the MinHash band
    * index before it may enter. Every incoming document reports
    * `status` ('dup' if any corpus doc matches at Jaccard ≥ 0.8, else
    * 'new') and its best corpus Jaccard. The batch is simulated
    * in-query: the `src0` slice re-submitted verbatim under new ids
    * (must flag 'dup' at 1.0) plus genuinely fresh synthetic texts
    * under `src1` ids (must pass 'new') — non-vacuous at any SF.
    *
    * Scale shape: the corpus side computes signatures + band keys in
    * one pass and pays ONE shuffle on the band key (the ≤50-docs cap
    * window — same exchange [[minhashLsh]] uses); the bounded batch's
    * bands BROADCAST onto it, so candidate generation never shuffles
    * the corpus again. At 100 TB the corpus band table would persist
    * like the IVF index ([[graft.similarity.SimilarityQueries]]) and
    * amortize across batches; the verdict rollup is
    * max-only (order-independent) per incoming doc.
    */
  /** The 4×4 MinHash band keys of a (doc_id, sh) signature frame — the
    * ONE banding used by the CDC screen (in-query and persisted-index
    * variants, so the two admission paths cannot drift).
    */
  private[graft] def cdcBandsOf(sh: DataFrame): DataFrame = {
    val mhCol = minHashesCol
    val bandKeys = array((0 until 4).map { b =>
      concat_ws(":", lit(b.toString) +:
        (0 until 4).map(r => element_at(col("mh"), b * 4 + r + 1)
          .cast("string")): _*)
    }: _*)
    sh.withColumn("mh", mhCol)
      .select(col("doc_id"), explode(bandKeys).as("bh"))
  }

  /** (doc_id, text) → non-empty shingle signatures. */
  private def cdcSigs(df: DataFrame): DataFrame =
    df.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)

  /** The simulated nightly batch both CDC screens admit: the `src0`
    * slice re-submitted verbatim under new ids (must flag 'dup' at
    * 1.0) plus genuinely fresh synthetic texts under `src1` ids (must
    * pass 'new') — non-vacuous at any SF.
    */
  private[graft] def cdcIncoming(d: DataFrame): DataFrame =
    d.filter(col("source") === "src0")
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      .unionAll(d.filter(col("source") === "src1")
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("fresh content row "), col("doc_id").cast("string"),
            lit(" batch nightly ingest")).as("text")))

  /** The exact-Jaccard confirm + per-doc verdict tail shared by both
    * CDC screens: candidates → intersect/union over the two signature
    * frames → max-Jaccard per incoming doc → dup/new at 0.8.
    */
  private def cdcVerdict(incoming: DataFrame, cands: DataFrame,
      shI: DataFrame, shE: DataFrame): DataFrame = {
    val jac = cands
      .join(broadcast(shI.select(col("doc_id").as("new_id"),
        col("sh").as("sh_n"))), "new_id")
      .join(shE.select(col("doc_id").as("old_id"),
        col("sh").as("sh_o")), "old_id")
      .withColumn("inter",
        graft.functions.HashFunctions.intersectSize(col("sh_n"), col("sh_o")))
      .select(col("new_id"),
        (col("inter").cast("double") /
          (size(col("sh_n")) + size(col("sh_o")) - col("inter"))).as("jac"))
    val flags = jac.groupBy(col("new_id"))
      .agg(max(col("jac")).as("best"))
      .withColumnRenamed("new_id", "doc_id")
    incoming.select(col("doc_id"))
      .join(broadcast(flags), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("best") >= 0.8, "dup").otherwise("new").as("status"),
        round(coalesce(col("best"), lit(0.0)), 4).as("best_jac"))
      .orderBy(col("doc_id"))
  }

  val minhashCdc = Query(
    "dd_minhash_cdc",
    (s, dir) => {
      val d = Tables(s, dir).documents
      val existing = spread(d.select(col("doc_id"), col("text")))
      val incoming = cdcIncoming(d)
      val shE = cdcSigs(existing)
      val shI = cdcSigs(incoming)
      val wBand = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bh"))
      val bandsE = cdcBandsOf(shE)
        .withColumn("bc", count(lit(1)).over(wBand))
        .filter(col("bc") <= 50).drop("bc")
      val cands = bandsE.as("e")
        .join(broadcast(cdcBandsOf(shI).as("i")), col("e.bh") === col("i.bh"))
        .select(col("i.doc_id").as("new_id"), col("e.doc_id").as("old_id"))
        .distinct()
      cdcVerdict(incoming, cands, shI, shE)
    },
    oracle = Some(cdcOracle("SELECT doc_id, text FROM documents")),
  )

  /** The nightly batch [[cdcIncoming]] as DuckDB SQL — shared by every
    * oracle that screens it. A `def`, not a `val`: [[minhashCdc]] is
    * declared ABOVE this point and evaluates its oracle at object init,
    * so a val here would read as null (Scala object-init order).
    */
  private[graft] def cdcIncomingSql: String = """
        SELECT doc_id + 500000 AS doc_id, text FROM documents
        WHERE source = 'src0'
        UNION ALL
        SELECT doc_id + 600000 AS doc_id,
          'fresh content row ' || doc_id::VARCHAR || ' batch nightly ingest'
            AS text
        FROM documents WHERE source = 'src1'"""

  /** The whole CDC screen as a suffix-parameterized DuckDB CTE chain
    * ending in `verdict_<sfx>(doc_id, status, best_jac)` — the ONE
    * oracle-side screen, instantiable more than once in a single query
    * text so `dd_stream_ingest` can chain sequential screens (batch 2
    * screens against existing ∪ batch 1's admissions). All CTE names
    * carry the suffix; nothing here collides with a caller's prelude
    * CTEs (e.g. the recursive cluster chain behind a purge list).
    */
  private[graft] def cdcScreenCtes(sfx: String, existingSql: String,
      incomingSql: String): String = {
      val mhList = hashParams.map { case (a, b) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % $MinhashP))"
      }.mkString("[", ", ", "]")
      val bandList = (0 until 4).map { b =>
        val parts = (0 until 4).map(r => s"mh[${b * 4 + r + 1}]::VARCHAR")
        s"'$b:' || " + parts.mkString(" || ':' || ")
      }.mkString("[", ", ", "]")
      s"""existing_$sfx AS ($existingSql),
      incoming_$sfx AS ($incomingSql),
      she_$sfx AS (
        SELECT doc_id, $shingleHashSql AS sh
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM existing_$sfx)
        WHERE len(t) >= 3
      ),
      shi_$sfx AS (
        SELECT doc_id, $shingleHashSql AS sh
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM incoming_$sfx)
        WHERE len(t) >= 3
      ),
      mhe_$sfx AS (SELECT doc_id, $mhList AS mh FROM she_$sfx),
      mhi_$sfx AS (SELECT doc_id, $mhList AS mh FROM shi_$sfx),
      bande0_$sfx AS (SELECT doc_id, unnest($bandList) AS bh FROM mhe_$sfx),
      bande_$sfx AS (
        SELECT doc_id, bh FROM (
          SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bc
          FROM bande0_$sfx)
        WHERE bc <= 50
      ),
      bandi_$sfx AS (SELECT doc_id, unnest($bandList) AS bh FROM mhi_$sfx),
      cdc_cands_$sfx AS (
        SELECT DISTINCT i.doc_id AS new_id, e.doc_id AS old_id
        FROM bandi_$sfx i JOIN bande_$sfx e ON e.bh = i.bh
      ),
      jac_$sfx AS (
        SELECT new_id,
          CAST(len(list_intersect(si.sh, se.sh)) AS DOUBLE) /
            (len(si.sh) + len(se.sh) - len(list_intersect(si.sh, se.sh)))
            AS jac
        FROM cdc_cands_$sfx
          JOIN shi_$sfx si ON si.doc_id = new_id
          JOIN she_$sfx se ON se.doc_id = old_id
      ),
      flags_$sfx AS (SELECT new_id, max(jac) AS best FROM jac_$sfx GROUP BY 1),
      verdict_$sfx AS (
        SELECT i.doc_id,
          CASE WHEN f.best >= 0.8 THEN 'dup' ELSE 'new' END AS status,
          round(coalesce(f.best, 0.0), 4) AS best_jac
        FROM incoming_$sfx i LEFT JOIN flags_$sfx f ON f.new_id = i.doc_id)"""
  }

  /** The CDC screen's DuckDB oracle, parameterized over the EXISTING
    * corpus (`dd_minhash_cdc` screens against `documents`;
    * `dd_band_upsert` screens against documents ∪ the ingested batch;
    * `dd_band_delete` against documents minus the purge list) — one
    * oracle text, so the screens' truths cannot drift. `prelude` lets a
    * caller prepend CTEs the existing-corpus SQL refers to (e.g.
    * `RECURSIVE` + the cluster chain behind the purge list).
    */
  private def cdcOracle(existingSql: String,
      prelude: String = ""): String = s"""
      WITH $prelude${cdcScreenCtes("0", existingSql, cdcIncomingSql)}
      SELECT doc_id, status, best_jac FROM verdict_0 ORDER BY doc_id
    """

  /** The SECOND nightly batch of the admit-and-ingest loop
    * (`dd_stream_ingest`): batch 1's fresh src1 texts RE-SUBMITTED
    * verbatim under new ids — these flag 'dup' ONLY IF batch 1's
    * admissions were actually ingested between the batches (the
    * cross-batch near-dup the composed loop exists to catch; a
    * stateless screen admits them twice) — plus a genuinely new second
    * wave, so the batch keeps both verdicts at every SF.
    */
  private[graft] def ingestBatch2(d: DataFrame): DataFrame = {
    val s1 = d.filter(col("source") === "src1")
    s1.select((col("doc_id") + 700000).as("doc_id"),
        concat(lit("fresh content row "), col("doc_id").cast("string"),
          lit(" batch nightly ingest")).as("text"))
      .unionAll(s1.select((col("doc_id") + 800000).as("doc_id"),
        concat(lit("second wave row "), col("doc_id").cast("string"),
          lit(" ingest window probe")).as("text")))
  }

  private[graft] def ingestBatch2Sql: String = """
        SELECT doc_id + 700000 AS doc_id,
          'fresh content row ' || doc_id::VARCHAR || ' batch nightly ingest'
            AS text
        FROM documents WHERE source = 'src1'
        UNION ALL
        SELECT doc_id + 800000 AS doc_id,
          'second wave row ' || doc_id::VARCHAR || ' ingest window probe'
            AS text
        FROM documents WHERE source = 'src1'"""

  /** The sequential-screen oracle for `dd_stream_ingest`: screen 1 runs
    * batch 1 against the corpus; its admissions join the corpus for
    * screen 2 over batch 2 — the from-scratch recomputation of exactly
    * what screen-then-upsert inside foreachBatch must produce
    * (including any hot-band transitions the ingested docs trigger,
    * because the screen CTEs re-derive the cap over the extended
    * corpus and upsert ≡ rebuild by BandUpsertSpec).
    */
  private[graft] def streamIngestOracle: String = s"""
      WITH ${cdcScreenCtes("1",
        "SELECT doc_id, text FROM documents", cdcIncomingSql)},
      admitted_1 AS (
        SELECT i.doc_id, i.text FROM incoming_1 i
        JOIN verdict_1 v ON v.doc_id = i.doc_id AND v.status = 'new'),
      ${cdcScreenCtes("2",
        "SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id, text FROM admitted_1",
        ingestBatch2Sql)}
      SELECT doc_id, status, best_jac FROM verdict_1
      UNION ALL
      SELECT doc_id, status, best_jac FROM verdict_2
      ORDER BY doc_id
    """

  /** Build-and-persist the corpus MinHash band index — the dedup
    * channel's persisted serving structure, completing the trilogy
    * next to the IVF index (dense) and the inverted index (sparse);
    * [[minhashCdc]]'s own Scaladoc promises exactly this ("at 100 TB
    * the corpus band table would persist like the IVF index and
    * amortize across batches"). The layout is the shared banded
    * near-dup layout ([[BandLayout]], [[graft.operators.BandedIndex]]):
    *  - `bands/`: the corpus (doc_id, bh) band keys, UNCAPPED,
    *    Hive-partitioned by `bkt = pmod(hash(bh), 16)` so a SMALL probe
    *    batch partition-prunes to its bands' buckets (a corpus-sized
    *    batch touches all 16 — the honest bound; the amortized win is
    *    not recomputing corpus signatures/bands per batch). The ≤50
    *    hot-band cap is applied at probe time ([[probeBandIndex]]).
    *  - `sigs/`: the (doc_id, sh) shingle signatures the exact-Jaccard
    *    confirm reads back, partitioned by `sbkt = pmod(hash(doc_id),
    *    16)`.
    *  - `bandmap/`: the doc_id → band-bucket route maintenance locates
    *    through.
    * Atomic publish + stale-generation GC via [[graft.core.IndexDirs]],
    * keyed by the documents file's identity like its two siblings.
    */
  def buildBandIndex(s: SparkSession, dir: String): String = synchronized {
    graft.core.IndexDirs.publishCurrent(s.sparkContext.hadoopConfiguration,
        dir, "documents.parquet", "graft_band_index_v4") { tmp =>
      writeBandIndex(s, Tables(s, dir).documents
        .select(col("doc_id"), col("text")), tmp)
    }
  }

  /** The band index's layout: (doc_id, sh) signatures bucketed by
    * `sbkt`, (doc_id, bh) band rows bucketed by `bkt`. The explicit
    * schemas keep every reachable state readable — Spark cannot infer
    * a schema from an empty partitioned directory.
    */
  private[graft] val BandLayout = graft.operators.BandedIndex("band",
    "doc_id", Seq("bh"),
    sigsSchema = "doc_id LONG, sh ARRAY<LONG>, sbkt INT",
    bandsSchema = "doc_id LONG, bh STRING, bkt INT", sigBktCol = "sbkt")

  /** Write sigs + uncapped bands + the bandmap route for `docs`
    * (doc_id, text) under `idx` — shared by the from-scratch build and
    * the rebuild oracles in BandUpsertSpec/PurgePropagationSpec. Docs
    * that tokenize to no shingles are not indexed.
    */
  private[graft] def writeBandIndex(s: SparkSession, docs: DataFrame,
      idx: String): Unit = {
    val shE = cdcSigs(spread(docs))
    BandLayout.write(s, idx, shE, cdcBandsOf(shE))
  }

  /** The ONE probe kernel against a persisted band index: compute only
    * the batch's signatures + bands, statically prune the index scan
    * to their buckets, drop the probed band keys with more than 50
    * stored members (the probe-time hot-band cap, counted over only
    * the probed keys), candidate-join against the broadcast batch
    * bands, confirm with the shared exact-Jaccard tail over the
    * persisted signatures. Shared by `dd_band_probe` (probe after
    * build), `dd_band_upsert`/`dd_band_delete` (probe after
    * maintenance) and the streaming admission rows.
    */
  private[graft] def probeBandIndex(s: SparkSession, idx: String,
      incoming: DataFrame, excludeBatchIds: Boolean = false): DataFrame = {
    val shI = cdcSigs(incoming)
    val bandsI = cdcBandsOf(shI)
    val bkts = bandsI.select(BandLayout.bandBkt.as("b"))
      .distinct().collect().map(_.getInt(0)).sorted // bounded: ≤ 16
    val stored0 = BandLayout.storedBands(s, idx, bkts)
      .select(col("doc_id"), col("bh"))
    // excludeBatchIds: the ingest LOOP's retry contract — a
    // foreachBatch retry after a committed ingest must reproduce the
    // FIRST attempt's verdicts, including the probe-time cap counts,
    // so the loop screens index-minus-batch (IngestLogRestartSpec,
    // BandUpsertSpec). A later-session re-screen (dd_band_upsert:
    // tomorrow's screen of ids ingested yesterday) keeps the default —
    // a re-submitted id IS a dup against its stored self.
    val stored =
      if (!excludeBatchIds) stored0
      else stored0.join(broadcast(incoming.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    val bandsE = BandLayout.belowCap(stored, bandsI.select(col("bh")).distinct())
    val shE = s.read.schema(BandLayout.sigsSchema).parquet(s"$idx/sigs")
    val cands = bandsE.as("e")
      .join(broadcast(bandsI.as("i")), col("e.bh") === col("i.bh"))
      .select(col("i.doc_id").as("new_id"), col("e.doc_id").as("old_id"))
      .distinct()
    cdcVerdict(incoming, cands, shI, shE)
  }

  /** Incremental maintenance for the persisted band index — the
    * admission tier's INGEST step: the docs a screen admitted as 'new'
    * append into the index so tomorrow's screen sees them. Contract is
    * APPEND-ONLY (a re-submitted doc is 'dup' and never re-ingested;
    * replacements are the purge/re-ingest tier's job): a batch whose
    * every id is already indexed fails loudly, duplicate ids within a
    * batch fail loudly, docs that tokenize to no shingles are not
    * indexed (the build's own rule). The shared banded-index path
    * ([[graft.operators.BandedIndex.upsert]]) commits the bands
    * through the bandmap route and the sigs last; no cap bookkeeping —
    * the cap is probe-time, so the upserted index equals a from-scratch
    * rebuild over the extended corpus (BandUpsertSpec). Returns the
    * touched band buckets.
    */
  def upsertBandIndex(s: SparkSession, idx: String,
      batch: DataFrame): Seq[Int] =
    BandLayout.upsert(s, idx, cdcSigs(batch), "upsertBandIndex")(cdcBandsOf)

  /** The maintenance demo behind `dd_band_upsert`: its OWN index
    * family (never the one `dd_band_probe` serves — ingest mutates the
    * index, and the probe row's oracle is the un-extended corpus),
    * built over the corpus, then tonight's fresh documents ingested
    * once (a re-run sees them in sigs and skips — deterministic either
    * way).
    */
  private def upsertBandDemoIndex(s: SparkSession, dir: String): String =
    synchronized {
      val d = Tables(s, dir).documents
      val fresh = d.filter(col("source") === "src1")
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("fresh content row "), col("doc_id").cast("string"),
            lit(" batch nightly ingest")).as("text"))
      graft.core.IndexDirs.maintainOnce(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", "graft_band_upsert_v4", "_upsert_applied")(
        tmp => writeBandIndex(s, d.select(col("doc_id"), col("text")), tmp))(
        idx => s.read.schema(BandLayout.sigsSchema).parquet(s"$idx/sigs")
          .join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .limit(1).collect().isEmpty)(
        idx => upsertBandIndex(s, idx, fresh))
    }

  /** Band-index MAINTENANCE under the gate — the ingest step after
    * admission: tonight's fresh documents append into the persisted
    * band index (touched buckets only, through the bandmap route),
    * then the SAME nightly batch screens again — re-submissions are
    * still dups against the corpus, and the just-ingested fresh docs
    * now flag 'dup' against themselves (except where their shared
    * boilerplate bands went hot — exactly what the cap is for). The
    * oracle recomputes the whole screen over the EXTENDED corpus
    * (documents ∪ ingested), so the row passes only if the bucket
    * merges, the signature merge and the probe-time cap all
    * reproduce a from-scratch view.
    */
  val bandUpsert = Query(
    "dd_band_upsert",
    (s, dir) => {
      val idx = upsertBandDemoIndex(s, dir)
      probeBandIndex(s, idx, cdcIncoming(Tables(s, dir).documents))
    },
    oracle = Some(cdcOracle(
      """SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 600000 AS doc_id,
          'fresh content row ' || doc_id::VARCHAR || ' batch nightly ingest'
            AS text
        FROM documents WHERE source = 'src1'""")),
  )

  /** Purge propagation into the persisted band index — the DELETE path
    * closing the r11 gap: `dd_purge_apply` cleans the LAKE, but a probe
    * against an unmaintained index still serves the purged docs as
    * candidates. Semantics = a from-scratch [[writeBandIndex]] over the
    * surviving corpus: purged docs' rows leave `bands/` (located
    * through the bandmap route) and `sigs/` (the commit point), through
    * the shared banded-index path
    * ([[graft.operators.BandedIndex.delete]]). A capped band whose
    * membership drops back under the cap needs no maintenance event:
    * the next probe's membership count simply sees the smaller set.
    * Idempotent once sigs commit. Returns the touched band buckets.
    */
  def deleteFromBandIndex(s: SparkSession, idx: String,
      purge0: DataFrame): Seq[Int] =
    BandLayout.delete(s, idx, purge0)

  /** The purge-propagation demo behind `dd_band_delete`: its OWN index
    * family (deletion mutates the index; the probe/upsert rows' oracles
    * assume other corpora), built over the full corpus, then the
    * [[textPurgeIds]] deletion list — the SAME list `dd_purge_apply`
    * executes against the lake — propagated once per corpus generation.
    * A `_purge_applied` marker records the completed propagation so
    * re-runs skip without RE-DERIVING the purge list (the cluster
    * chain costs more than the probe; an applied deletion is durable
    * and its application is recorded, the production bookkeeping).
    * Crash between the delete's sigs commit and the marker: the re-run
    * re-derives the list once, anti-joins to a no-op, and writes the
    * marker — idempotent.
    */
  private def deleteBandDemoIndex(s: SparkSession, dir: String): String =
    synchronized {
      // derived only when the marker is absent
      lazy val purge = textPurgeIds(s, dir).select(col("doc_id"))
      graft.core.IndexDirs.maintainOnce(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", "graft_band_delete_v3", "_purge_applied")(
        tmp => writeBandIndex(s, Tables(s, dir).documents
          .select(col("doc_id"), col("text")), tmp))(
        idx => s.read.schema(BandLayout.sigsSchema).parquet(s"$idx/sigs")
          .join(purge, Seq("doc_id"), "left_semi").limit(1).collect()
          .nonEmpty)(
        idx => deleteFromBandIndex(s, idx, purge))
    }

  /** Purge propagation under the gate — the serving-tier invariant the
    * r11 verdict called every real pipeline's nastiest operational bug:
    * after the dedup purge, a probe of the band index must behave as if
    * the index were REBUILT over the surviving corpus. The nightly
    * batch screens against the post-delete index, and the oracle
    * recomputes the whole screen over documents MINUS the purge list
    * (the same recursive cluster chain `dd_purge_apply` gates on) — so
    * the row passes only if the purged docs are gone from bands AND
    * sigs, and the probe-time cap counts the survivors exactly as a
    * rebuild would.
    */
  val bandDelete = Query(
    "dd_band_delete",
    (s, dir) => probeBandIndex(s, deleteBandDemoIndex(s, dir),
      cdcIncoming(Tables(s, dir).documents)),
    oracle = Some(cdcOracle(
      """SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM purged)""",
      prelude = s"RECURSIVE $textClusterCtes,\n      $textPurgedCte,\n      ")),
  )

  /** Near-dup admission served from the PERSISTED band index —
    * identical semantics to [[minhashCdc]] (same oracle, the
    * ss_ivf_probe / tx_bm25_probe discipline applied to the dedup
    * channel): the probe computes ONLY the batch's signatures and
    * bands, resolves their ≤16 bucket values first so the index scan
    * carries a static partition filter, joins the pruned corpus bands
    * against the broadcast batch bands, and confirms candidates with
    * the shared exact-Jaccard tail against the persisted signatures.
    * This is what a nightly-ingest admission tier runs per batch;
    * `dd_minhash_cdc` is the index-less pipeline run end-to-end —
    * which recomputes corpus signatures + bands + the hot-band cap
    * EVERY batch, the exact cost the persisted index amortizes away.
    */
  val bandProbe = Query(
    "dd_band_probe",
    (s, dir) => probeBandIndex(s, buildBandIndex(s, dir),
      cdcIncoming(Tables(s, dir).documents)),
    // the persisted index encodes the same signatures, banding, and
    // hot-band cap, so the index-less oracle applies verbatim
    oracle = minhashCdc.oracle,
  )

  /** Composed corpus-cleaning pass — quality filter, then exact dedup
    * (keep lowest doc_id per hash), then TRANSITIVE near-dup drop:
    * connected components over the MinHash candidate pairs with
    * Jaccard ≥ 0.8 ([[connectedComponents]]), keeping only the
    * canonical representative (min doc_id) of each cluster — the
    * production semantic (a pairwise drop rule keeps local-minimum
    * docs that a chain A~C, B~C with A<B<C should merge away).
    * Emits the surviving corpus ids.
    */
  val cleanCorpus = Query(
    "dd_clean_corpus",
    (s, dir) => {
      val corpus = dupCorpus(Tables(s, dir))
      val toksOf = toks(col("text"))
      val quality = corpus
        .filter(size(toksOf).between(10, 2000))
      val exactKept = quality
        .withColumn("h", md5(col("text")))
        .withColumn("keeper", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
        .filter(col("doc_id") === col("keeper"))
        .select(col("doc_id"), col("text"))
      val sh = reuseByDoc(exactKept
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0))
      val edges = withJaccard(bandPairs(sh), sh)
        .filter(col("jac") >= 0.8)
        .select(col("id_a"), col("id_b"))
      val nearDrop = connectedComponents(edges)
        .filter(col("lbl") =!= col("id"))
        .select(col("id").as("doc_id"))
      exactKept
        .join(nearDrop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE corpus AS ($dupCorpusSql),
      quality AS (
        SELECT doc_id, text FROM corpus
        WHERE len(list_filter(string_split(text, ' '), x -> length(x) > 0))
              BETWEEN 10 AND 2000
      ),
      exact_kept AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
            min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
          FROM quality)
        WHERE doc_id = keeper
      ),
      ${bandCandSql("exact_kept")},
      edges AS (
        SELECT id_a, id_b FROM cands
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= 0.8
      ),
      $ccWalkSql,
      near_drop AS (
        SELECT id AS doc_id FROM walk GROUP BY id HAVING min(lbl) <> id
      )
      SELECT doc_id FROM exact_kept
      WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
      ORDER BY doc_id
    """),
    headline = true,
  )

  /** Passage-level duplication: 10-token shingles occurring in more
    * than one document are duplicated passages (the bounded-length tier
    * of substring dedup — cf. suffix-array train-data dedup, which this
    * approximates at fixed n). Output: per document, how many of its
    * passages are shared and with how many other docs at worst. One
    * explode + one groupBy on 8-byte hashes.
    */
  val dupPassages = Query(
    "dd_dup_passages",
    (s, dir) => {
      val t  = Tables(s, dir)
      // Bounded single-pass shape: hash-partition the postings on the
      // passage hash `s` (pinned width — the explode multiplies rows),
      // then `df = count(*) over (partition by s)` gives each posting
      // its document frequency IN PLACE — shingleHash32 emits distinct
      // hashes per doc, so the per-s count is the document frequency.
      // The window's aggregation state is one long per partition key
      // (a boilerplate passage in millions of docs costs one counter,
      // never a collected id set), and versus a df-aggregate + rejoin
      // formulation there is no second corpus scan, no second kernel
      // run, and no join — one corpus pass and two shuffles of 8-byte
      // keys total (s for the window, doc_id for the rollup), no
      // unbounded state anywhere.
      val postings = spreadBy(spread(dupCorpus(t))
        .select(col("doc_id"),
          explode(graft.functions.HashFunctions.shingleHash32(col("text"), 10))
            .as("s")), col("s"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
      postings
        .withColumn("df", count(lit(1)).over(w))
        .filter(col("df") > 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_passages"),
          max(col("df")).as("max_spread"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH corpus AS ($dupCorpusSql),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          list_transform(range(1, greatest(len(t) - 8, 1)),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                 t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' ||
                 t[i+8] || ' ' || t[i+9]),
          x -> ('0x' || substr(md5(x), 1, 8))::BIGINT))) AS s
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM corpus)
        WHERE len(t) >= 10
      ),
      shared AS (
        SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s HAVING count(DISTINCT doc_id) > 1
      )
      SELECT doc_id, count(*) AS n_shared_passages, max(df) AS max_spread
      FROM sh JOIN shared USING (s)
      GROUP BY doc_id ORDER BY doc_id
    """),
  )

  /** Benchmark decontamination — the training-data op that removes
    * eval-set overlap from a pretraining corpus (the 13-gram rule of
    * GPT-3/PaLM lineage, here 8-token n-grams against this corpus's
    * ~100-token documents). The "benchmark" is the deterministic
    * `doc_id % 97 = 0` slice (~1% of the corpus — a stand-in for a
    * held-out eval set, the way [[dupCorpus]] stands in planted dups).
    *
    * Scale shape: the benchmark side collapses to a DISTINCT n-gram
    * hash set — eval sets are tiny and bounded, so it broadcasts; the
    * corpus side is one narrow scan + per-row n-gram kernel + broadcast
    * hash-join, then a doc_id-keyed count. No corpus-sized shuffle of
    * anything but (doc_id, hit) pairs.
    *
    * The synthetic corpus has no natural eval overlap, so (the way
    * [[dupCorpus]] plants duplicates) CONTAMINATION IS PLANTED: each
    * benchmark-slice document is re-inserted at doc_id + 200000 —
    * 200000 ≡ 83 (mod 97), so every planted copy lands on the corpus
    * side and must surface with all of its n-grams flagged. A broken
    * gram hash, join key, or slice predicate now breaks the oracle
    * match instead of passing vacuously on 0 rows.
    */
  val decontaminate = Query(
    "dd_decontaminate",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = d.unionAll(
        d.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val grams = spread(corpus)
        .select(col("doc_id"),
          explode(graft.functions.HashFunctions.shingleHash32(col("text"), 8))
            .as("h"))
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select(col("h")).distinct()
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000 AS doc_id, text FROM documents
        WHERE doc_id % 97 = 0
      ), t AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM corpus
      ), g AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(
            list_transform(range(1, greatest(len(t) - 6, 1)),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                || ' ' || t[i+7]),
            x -> ('0x' || substr(md5(x), 1, 8))::BIGINT))) AS h
        FROM t
      ), bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0)
      SELECT g.doc_id, count(*) AS n_hits
      FROM g JOIN bench USING (h)
      WHERE g.doc_id % 97 <> 0
      GROUP BY 1 ORDER BY 1
    """),
    headline = true,
  )

  /** Decontamination at the scale where the eval-gram set no longer
    * broadcasts as an exact set: [[decontaminate]] ships every distinct
    * benchmark gram to every task, which works while benchmarks are
    * MBs; a contaminated-crawl sweep against a large eval suite is
    * GBs of grams. This variant broadcasts a BITSET instead — a Bloom
    * filter built over `xxhash64(gram)` (built distributedly by
    * `DataFrameStatFunctions.bloomFilter`'s tree aggregation) — and
    * wires Spark's own codegen'd runtime-filter probe
    * ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
    * the expression AQE injects for runtime shuffle pruning) into the
    * corpus-side scan as a static pre-filter. False positives are then
    * removed by the SAME exact join as [[decontaminate]], but over the
    * pruned candidate stream (≈ hit rate + 1% fpp of corpus grams, not
    * all of them); false negatives don't exist, so the result — and
    * the oracle — are IDENTICAL to the exact variant. The join side
    * stays un-hinted: at test SF AQE broadcasts it; at 100 TB it
    * becomes a shuffle join whose left input the bloom already cut by
    * ~99%.
    */
  val bloomDecontaminate = Query(
    "dd_bloom_decontaminate",
    (s, dir) => {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = d.unionAll(
        d.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val grams = spread(corpus)
        .select(col("doc_id"),
          explode(graft.functions.HashFunctions.shingleHash32(col("text"), 8))
            .as("h"))
      // r16 (guide §1.2): the eval-slice gram set feeds THREE
      // consumers — the sizing count, the bloom build aggregation, and
      // the exact-confirm join — and each re-ran the tokenize+shingle
      // pass over the eval slice (3 × ~0.3 s scan jobs profiled). One
      // eager localCheckpoint materializes it once (eval-suite-sized,
      // stored as distributed blocks — never driver-collected; the
      // same bound that lets the exact variant broadcast it).
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select(col("h")).distinct()
        .localCheckpoint(true)
      val nBench = bench.count() // bounded: a count, sizes the filter
      val bf = bench.select(xxhash64(col("h")).as("x"))
        .stat.bloomFilter("x", math.max(nBench, 1L), 0.01)
      val bfBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos); bos.toByteArray
      }
      val mightContain = graft.functions.Exprs.toColumn(
        BloomFilterMightContain(
          Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
          // seed 42 = functions.xxhash64's, matching the build side
          XxHash64(Seq(graft.functions.Exprs.toExpr(col("h"))), 42L)))
      grams.filter(col("doc_id") % 97 =!= 0)
        .filter(mightContain) // bitset probe rides the scan, codegen'd
        .join(bench, "h") // exact confirm over survivors only
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },
    // no false negatives + exact confirm ⇒ the exact variant's oracle
    oracle = decontaminate.oracle,
  )

  /** The LSH tuning dial — the dedup-family counterpart of
    * `ss_recall`: sweep the banding shape over the SAME 16-min-hash
    * signature (2×8, 4×4, 8×2) and report, per configuration, how many
    * candidate pairs the band join generates and how many survive the
    * exact Jaccard ≥ 0.5 verify — the candidates-vs-yield curve that
    * picks bands/rows for a corpus (more, narrower bands → more
    * candidates, higher recall, more verify cost; fewer, wider bands →
    * the opposite). The signature computes ONCE (shared exchange, like
    * every band consumer); each config adds only its band explode +
    * equi-join + the exact verify on ITS candidates — still bucketed,
    * never all-pairs, hot-band-capped like the production path. The
    * oracle recomputes all three configurations end-to-end in DuckDB.
    */
  val lshTuning = Query(
    "dd_lsh_tuning",
    (s, dir) => {
      val sh = reuseByDoc(
        spread(dupCorpus(Tables(s, dir)))
          .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
          .filter(size(col("sh")) > 0))
      val cfgs = Seq((2, 8), (4, 4), (8, 2))
      cfgs.map { case (bN, rN) =>
        withJaccard(bandPairsCfg(sh, bN, rN), sh)
          .agg(count(lit(1)).as("n_cands"),
            sum((col("jac") >= 0.5).cast("long")).as("n_found"))
          .select(lit(bN).as("bands"), lit(rN).as("rows_per_band"),
            col("n_cands"), col("n_found"))
      }.reduce(_ unionAll _).orderBy(col("bands"))
    },
    oracle = {
      val mhList = hashParams.map { case (a, b) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % $MinhashP))"
      }.mkString("[", ", ", "]")
      def cfgSql(bN: Int, rN: Int): String = {
        val bandList = (0 until bN).map { b =>
          val parts = (0 until rN).map(r => s"mh[${b * rN + r + 1}]::VARCHAR")
          s"'$b:' || " + parts.mkString(" || ':' || ")
        }.mkString("[", ", ", "]")
        s"""
        SELECT $bN AS bands, $rN AS rows_per_band,
               count(*) AS n_cands,
               CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_found
        FROM (
          SELECT CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                 (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                 AS jac
          FROM (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM (SELECT doc_id, bh FROM (
                    SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bc
                    FROM (SELECT doc_id, unnest($bandList) AS bh FROM mh))
                  WHERE bc <= 50) a
            JOIN (SELECT doc_id, bh FROM (
                    SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bc
                    FROM (SELECT doc_id, unnest($bandList) AS bh FROM mh))
                  WHERE bc <= 50) b
              ON a.bh = b.bh AND a.doc_id < b.doc_id
          ) c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b
        )"""
      }
      Some(s"""
      WITH corpus AS ($dupCorpusSql),
      sh AS (
        SELECT doc_id, $shingleHashSql AS sh
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM corpus)
        WHERE len(t) >= 3
      ),
      mh AS (SELECT doc_id, sh, $mhList AS mh FROM sh)
      ${cfgSql(2, 8)}
      UNION ALL
      ${cfgSql(4, 4)}
      UNION ALL
      ${cfgSql(8, 2)}
      ORDER BY bands
      """)
    },
  )

  /** The dedup-family recall AUDIT — the number [[lshTuning]]'s
    * candidates-vs-yield curve cannot give: against an exact TRUTH set
    * of near-dup pairs, what fraction does the production MinHash+LSH
    * path (4×4 banding, hot-band cap) actually find? Truth comes from
    * the shingle POSTINGS path (any pair with Jaccard > 0 shares a
    * shingle, so posting-join pairs with a df cap are complete for
    * every non-boilerplate pair — the dd_ngram_jaccard discipline,
    * df ≤ 100 declared), scored with the exact hashed-shingle Jaccard
    * and thresholded at 0.3/0.5/0.7; candidates are the SAME
    * [[bandPairs]] front-end dd_minhash_lsh ships. One row: candidate
    * count, and per threshold the truth size, hits, and recall —
    * the measured basis for choosing banding shape at 100 TB.
    *
    * Scale: both sides are bucketed joins (posting key with df cap,
    * band key with the 50-doc cap); the truth side is the audit's
    * cost and runs on the same capped-postings shape the n-gram
    * near-dup query already ships. Recall ratios divide two exact
    * integers once.
    */
  val minhashRecall = Query(
    "dd_minhash_recall",
    (s, dir) => {
      val t = Tables(s, dir)
      val sh = spread(dupCorpus(t))
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
      val posts = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      val capped = posts.withColumn("df", count(lit(1)).over(wG))
        .filter(col("df") <= 100).drop("df")
      val truthPairs = capped.as("a")
        .join(capped.as("b"), col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val scored = withJaccard(truthPairs, sh)
        .select(col("id_a"), col("id_b"), col("jac"))
      val cands = bandPairs(sh).withColumn("is_cand", lit(1L))
      val marked = scored.join(cands, Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq("is_cand"))
      def at(tag: String, thr: Double) = Seq(
        sum((col("jac") >= thr).cast("long")).as(s"truth_$tag"),
        sum(when(col("jac") >= thr, col("is_cand")).otherwise(0L))
          .as(s"hit_$tag"))
      val aggs = Seq(sum(col("is_cand")).as("n_cand")) ++
        at("03", 0.3) ++ at("05", 0.5) ++ at("07", 0.7)
      marked.agg(aggs.head, aggs.tail: _*)
        .select(col("n_cand"),
          col("truth_03"), col("hit_03"),
          round(col("hit_03") * 1.0 / col("truth_03"), 4).as("recall_03"),
          col("truth_05"), col("hit_05"),
          round(col("hit_05") * 1.0 / col("truth_05"), 4).as("recall_05"),
          col("truth_07"), col("hit_07"),
          round(col("hit_07") * 1.0 / col("truth_07"), 4).as("recall_07"))
    },
    oracle = {
      val mhList = hashParams.map { case (a, b) =>
        s"list_min(list_transform(sh, h -> (h * $a + $b) % $MinhashP))"
      }.mkString("[", ", ", "]")
      val bandList = (0 until 4).map { b =>
        val parts = (0 until 4).map(r => s"mh[${b * 4 + r + 1}]::VARCHAR")
        s"'$b:' || " + parts.mkString(" || ':' || ")
      }.mkString("[", ", ", "]")
      Some(s"""
      WITH corpus AS ($dupCorpusSql),
      sh AS (
        SELECT doc_id, $shingleHashSql AS sh
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
              FROM corpus)
        WHERE len(t) >= 3
      ),
      posts AS (
        SELECT doc_id, g FROM (
          SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df
          FROM (SELECT doc_id, unnest(sh) AS g FROM sh))
        WHERE df <= 100
      ),
      truth AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      ),
      scored AS (
        SELECT id_a, id_b,
          CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            AS jac
        FROM truth
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b
      ),
      mh AS (SELECT doc_id, sh, $mhList AS mh FROM sh),
      bands0 AS (SELECT doc_id, unnest($bandList) AS bh FROM mh),
      bands AS (
        SELECT doc_id, bh FROM (
          SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bc
          FROM bands0)
        WHERE bc <= 50
      ),
      cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bh = b.bh AND a.doc_id < b.doc_id
      ),
      marked AS (
        SELECT s.jac,
          CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS is_cand
        FROM scored s LEFT JOIN cands c
          ON s.id_a = c.id_a AND s.id_b = c.id_b
      )
      SELECT sum(is_cand)::BIGINT AS n_cand,
        sum(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END)::BIGINT AS truth_03,
        sum(CASE WHEN jac >= 0.3 THEN is_cand ELSE 0 END)::BIGINT AS hit_03,
        round(sum(CASE WHEN jac >= 0.3 THEN is_cand ELSE 0 END) * 1.0 /
          sum(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END), 4) AS recall_03,
        sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS truth_05,
        sum(CASE WHEN jac >= 0.5 THEN is_cand ELSE 0 END)::BIGINT AS hit_05,
        round(sum(CASE WHEN jac >= 0.5 THEN is_cand ELSE 0 END) * 1.0 /
          sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END), 4) AS recall_05,
        sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END)::BIGINT AS truth_07,
        sum(CASE WHEN jac >= 0.7 THEN is_cand ELSE 0 END)::BIGINT AS hit_07,
        round(sum(CASE WHEN jac >= 0.7 THEN is_cand ELSE 0 END) * 1.0 /
          sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END), 4) AS recall_07
      FROM marked
    """)
    },
  )

  def all: Seq[Query] =
    Seq(exact, dupStats, minhashLsh, minhashCdc, bandProbe, bandUpsert,
      bandDelete, simhash, ngramJaccard,
      cleanCorpus, dupPassages, dupClusters, clusterSplit, decontaminate,
      bloomDecontaminate, incrementalDedup, lshTuning, minhashRecall,
      purgePlanQ, purgeApply)
}
