package graft.text

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * counting, n-gram stats, document fingerprinting).
  *
  * All token work happens inside array higher-order functions
  * (`split`/`filter`/`transform`/`aggregate`) — codegen'd, no UDFs, no
  * explode until aggregation actually needs rows. At 100 TB the
  * documents table is the big one; every query here is scan + narrow
  * per-row compute + one small aggregation, i.e., embarrassingly
  * parallel with no skew.
  */
object TextQueries {

  /** private[graft]: the streaming heavy-hitters twin reuses the
    * exact same tokenizer kernel (one definition, ADVICE r7 precedent).
    */
  private[graft] def toks(c: Column): Column =
    filter(split(c, " "), t => length(t) > 0)

  /** Number of BPE merge rounds trained by [[bpeTrain]] — shared with
    * the unrolled oracle generator so they cannot drift. Declared at
    * the top of the object (and `final`) because [[packBpe]]'s oracle
    * interpolates it during earlier-in-file initializer evaluation.
    */
  private final val bpeRounds = 4

  /** Per-document token statistics. */
  val tokenStats = Query(
    "tx_token_stats",
    (s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(
          col("doc_id"),
          size(col("t")).as("n_tokens"),
          size(array_distinct(col("t"))).as("n_uniq"),
          round(
            aggregate(transform(col("t"), t => length(t)), lit(0),
              (acc, x) => acc + x).cast("double") / size(col("t")), 4)
            .as("avg_tok_len"),
        )
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq,
        round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 4)
          AS avg_tok_len
      FROM (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
            FROM documents)
      ORDER BY doc_id
    """),
    headline = true,
  )

  private val stopwords = Seq("the", "a", "and", "of", "or", "is", "in")

  /** The tx_quality kernel as a reusable frame — (doc_id, n_tokens,
    * stop_ratio, verdict) — shared with `mm_pair_manifest`'s caption
    * gate so the keep rule cannot drift between the text filter and
    * the cross-modal curation op (the lmScored/bm25Scored precedent).
    */
  private[graft] def qualityScored(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir).documents
      .select(col("doc_id"), col("n_chars"), toks(col("text")).as("t"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("t")).as("n_tokens"),
        round(size(filter(col("t"),
          x => x.isInCollection(stopwords))).cast("double") /
          size(col("t")), 4).as("stop_ratio"),
      )
    d.select(
      col("doc_id"), col("n_tokens"), col("stop_ratio"),
      when(col("n_tokens").between(10, 2000) &&
        col("stop_ratio").between(0.01, 0.6), lit("keep"))
        .otherwise(lit("drop")).as("verdict"),
    )
  }

  /** The DuckDB mirror of [[qualityScored]], ending in a `txq` CTE
    * with (doc_id, n_tokens, stop_ratio, verdict).
    */
  private[graft] val qualityScoredSql: String = """txq_t AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        FROM documents
      ), txq_m AS (
        SELECT doc_id, len(toks) AS n_tokens,
          round(CAST(len(list_filter(toks,
            x -> x IN ('the','a','and','of','or','is','in'))) AS DOUBLE)
            / len(toks), 4) AS stop_ratio
        FROM txq_t
      ), txq AS (
        SELECT doc_id, n_tokens, stop_ratio,
          CASE WHEN n_tokens BETWEEN 10 AND 2000
                AND stop_ratio BETWEEN 0.01 AND 0.6
               THEN 'keep' ELSE 'drop' END AS verdict
        FROM txq_m
      )"""

  /** Heuristic quality score: token count band + stopword-ratio band
    * (classic pretraining-corpus filters, cf. C4/Gopher rules).
    */
  val quality = Query(
    "tx_quality",
    (s, dir) => qualityScored(s, dir).orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH $qualityScoredSql
      SELECT doc_id, n_tokens, stop_ratio, verdict FROM txq ORDER BY doc_id
    """),
  )

  /** Marker-word language ID (n-gram-free heuristic: count hits against
    * per-language stopword lists, argmax with fixed priority
    * en>de>es>fr>zh). The same deterministic rule runs in the oracle, so
    * correctness means "the distributed pipeline computes the declared
    * function", not linguistic accuracy.
    */
  val langid = Query(
    "tx_langid",
    (s, dir) => {
      val markers = Map(
        "en" -> Seq("the", "and", "of", "is"),
        "de" -> Seq("der", "die", "und", "ist"),
        "es" -> Seq("el", "los", "y", "es"),
        "fr" -> Seq("le", "les", "et", "est"),
      )
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      val scored = markers.foldLeft(d) { case (df, (l, ws)) =>
        df.withColumn(s"score_$l",
          size(filter(col("t"), x => x.isInCollection(ws))))
      }
      scored
        .select(
          col("doc_id"), col("lang").as("labeled"),
          when(col("score_en") >= greatest(col("score_de"), col("score_es"), col("score_fr")) &&
            col("score_en") > 0, "en")
            .when(col("score_de") >= greatest(col("score_es"), col("score_fr")) &&
              col("score_de") > 0, "de")
            .when(col("score_es") >= col("score_fr") && col("score_es") > 0, "es")
            .when(col("score_fr") > 0, "fr")
            .otherwise("und").as("guess"),
        )
        .groupBy(col("labeled"), col("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("labeled"), col("guess"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, lang,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        FROM documents
      ), scored AS (
        SELECT doc_id, lang,
          len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS score_en,
          len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS score_de,
          len(list_filter(toks, x -> x IN ('el','los','y','es'))) AS score_es,
          len(list_filter(toks, x -> x IN ('le','les','et','est'))) AS score_fr
        FROM t
      ), guessed AS (
        SELECT lang AS labeled,
          CASE
            WHEN score_en >= greatest(score_de, score_es, score_fr) AND score_en > 0 THEN 'en'
            WHEN score_de >= greatest(score_es, score_fr) AND score_de > 0 THEN 'de'
            WHEN score_es >= score_fr AND score_es > 0 THEN 'es'
            WHEN score_fr > 0 THEN 'fr'
            ELSE 'und' END AS guess
        FROM scored)
      SELECT labeled, guess, count(*) AS n
      FROM guessed GROUP BY 1, 2 ORDER BY 1, 2
    """),
  )

  /** Canonical document fingerprint: md5 over the sorted distinct token
    * set (shingle-free near-dup precursor; equal fingerprints ⇒
    * same-vocabulary docs).
    */
  val fingerprint = Query(
    "tx_fingerprint",
    (s, dir) => {
      Tables(s, dir).documents
        .select(
          col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(toks(col("text"))))))
            .as("fp"),
        )
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split(text, ' '), x -> length(x) > 0))), ' ')) AS fp
      FROM documents ORDER BY doc_id
    """),
  )

  /** Corpus bigram frequencies, top-20 (deterministic tiebreak). Bigrams
    * are built inside the array domain (transform over an index
    * sequence) and only then exploded — at scale this keeps the
    * pre-shuffle record count at one row per bigram with map-side
    * partial counting.
    */
  val bigrams = Query(
    "tx_bigrams",
    (s, dir) => {
      Tables(s, dir).documents
        .select(toks(col("text")).as("t"))
        .select(explode(transform(
          sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1)),
        )).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },
    oracle = Some("""
      WITH t AS (
        SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
        FROM documents
      ), b AS (
        SELECT unnest(list_transform(range(1, len(toks)),
          i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM t)
      SELECT bigram, count(*) AS n FROM b
      GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
    """),
  )

  /** BPE-style pre-tokenization count: alpha runs, digit runs, and
    * single non-alphanumeric marks (the GPT-2-style pre-tokenizer
    * shape, ASCII-restricted so the Java and RE2 regex dialects agree),
    * next to the whitespace token count — the two token-budget metrics
    * a corpus pipeline reports.
    */
  val bpeTokens = Query(
    "tx_tokens_bpe",
    (s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"),
          size(toks(col("text"))).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).as("n_bpe_tokens"))
        .withColumn("bpe_per_ws",
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 4))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> length(x) > 0))
          AS n_ws_tokens,
        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
          AS n_bpe_tokens,
        round(CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
          AS DOUBLE) /
          len(list_filter(string_split(text, ' '), x -> length(x) > 0)), 4)
          AS bpe_per_ws
      FROM documents ORDER BY doc_id
    """),
  )

  /** Character-n-gram language ID: per-language trigram profiles are
    * learned from the labeled corpus inside the query (top-15 char
    * trigrams per language by frequency, ties broken lexicographically)
    * and each document is scored by profile overlap of its distinct
    * trigrams; argmax with deterministic tiebreak on language code.
    *
    * Two-phase shape (the model-then-apply pattern, same as the learned
    * IVF centroids): the train action aggregates trigram counts down to
    * a BOUNDED model (≤15 trigrams × #languages) — partial map-side
    * aggregation means the shuffle carries (lang, g) partial counts,
    * never the exploded trigram stream — and the model ships back into
    * the apply pass as array literals. Apply is then one narrow
    * per-row `array_intersect` per language plus a tiny final
    * aggregation: no exploded-row shuffle, no per-document window.
    * The round-1 formulation shuffled every exploded trigram
    * (~5M rows at sf0.1) and ranked scores with a per-doc window —
    * 2.5-3 s; this shape is ~3× faster and at 100 TB ships only the
    * model.
    */
  val langidNgram = Query(
    "tx_langid_ngram",
    (s, dir) => {
      // no fan-out here: the n-gram kernel is ~0.2 s single-core, and
      // the exploded groupBy reduces better on fewer, larger partitions
      // (measured: repartitioning first costs more shuffle rows than it
      // saves in kernel parallelism)
      val docs =
        Tables(s, dir).documents.select(col("doc_id"), col("lang"), col("text"))
      val trigrams = docs.select(
        col("doc_id"), col("lang"),
        graft.functions.HashFunctions.charNgrams(col("text"), 3).as("tg"))
      // TRAIN on a deterministic 20% sample (salted md5 bucket — the
      // tx_sample idiom, mirrored in the oracle): profile quality needs
      // frequency RANKS, not exact counts, so a sample suffices and the
      // exploded-trigram shuffle shrinks 5×. The collect is ≤15×#langs
      // rows of an aggregate, not corpus data.
      val trainGate = conv(
        substring(md5(concat(lit("lid1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 100 < 20
      val profiles: Map[String, Seq[String]] = trigrams
        .filter(trainGate)
        .select(col("lang"), explode(col("tg")).as("g"))
        .groupBy(col("lang"), col("g"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n").desc, col("g"))))
        .filter(col("rk") <= 15)
        .select(col("lang"), col("g"))
        .collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
      val langs = profiles.keys.toSeq.sorted
      // APPLY: ONE fused kernel call per row computes every language's
      // overlap (codegen'd; the per-language size(array_intersect)
      // composition re-hashes the gram array per language, interpreted).
      // argmax with min-language tiebreak = first index achieving the
      // max in the ascending-sorted language list.
      docs.select(col("lang"),
          graft.functions.HashFunctions.profileOverlap(
            graft.functions.HashFunctions.charNgrams(col("text"), 3),
            langs.map(profiles)).as("ov"))
        .withColumn("best", array_max(col("ov")))
        .filter(col("best") > 0)
        .select(col("lang"),
          element_at(typedLit(langs),
            array_position(col("ov"), col("best")).cast("int")).as("guess"))
        .groupBy(col("lang").as("labeled"), col("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("labeled"), col("guess"))
    },
    oracle = Some("""
      WITH tg AS (
        SELECT doc_id, lang,
          unnest(list_distinct(list_transform(
            range(1, greatest(length(text) - 1, 1)),
            i -> substr(text, i, 3)))) AS g
        FROM documents
      ), profiles AS (
        SELECT lang AS plang, g FROM (
          SELECT lang, g, row_number() OVER (PARTITION BY lang
            ORDER BY count(*) DESC, g) AS rk
          FROM tg
          WHERE ('0x' || substr(md5('lid1:' || doc_id::VARCHAR), 1, 8))::BIGINT
                  % 100 < 20
          GROUP BY lang, g)
        WHERE rk <= 15
      ), scores AS (
        SELECT t.doc_id, t.lang, p.plang, count(*) AS overlap
        FROM tg t JOIN profiles p ON p.g = t.g
        GROUP BY 1, 2, 3
      ), best AS (
        SELECT doc_id, lang, plang,
          row_number() OVER (PARTITION BY doc_id
                             ORDER BY overlap DESC, plang) AS rk
        FROM scores)
      SELECT lang AS labeled, plang AS guess, count(*) AS n
      FROM best WHERE rk = 1
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
  )

  /** Order-sensitive document fingerprint: polynomial rolling hash
    * (Rabin–Karp fold) over the token stream — h = fold(h·B + hash32(t)
    * mod P). Unlike the sorted-set md5 fingerprint, token order
    * matters, so reordered documents get different fingerprints.
    */
  val rollingFingerprint = Query(
    "tx_rolling_fp",
    (s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), toks(col("text")).as("t"))
        .withColumn("hs", transform(col("t"), x =>
          conv(substring(md5(x), 1, 8), 16, 10).cast("long")))
        // modulus < 2^58 keeps acc*31 + h under 2^63 in both engines
        // (DuckDB errors on signed overflow rather than wrapping)
        .withColumn("fp", expr(
          "aggregate(hs, cast(0 as bigint), (acc, h) -> (acc * 31 + h) % 288230376151711717)"))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
        list_reduce(
          list_prepend(0::BIGINT,
            list_transform(
              list_filter(string_split(text, ' '), x -> length(x) > 0),
              x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)),
          (acc, h) -> (acc * 31 + h) % 288230376151711717) AS fp
      FROM documents ORDER BY doc_id
    """),
  )

  /** Per-document top-5 terms by TF-IDF. Rank ties are broken in pure
    * integer space (tf desc, df asc, term asc) so the cross-engine
    * ordering never depends on float comparison; the tfidf score itself
    * is informational output, rounded to 4 decimals on both sides.
    *
    * Scale shape: ONE corpus-sized exchange. The scan pre-partitions on
    * doc_id before the explode (text payload, not exploded tokens, on
    * the wire); HashPartitioning(doc_id) then satisfies the
    * (doc_id, term) groupBy, the per-doc window, everything — no
    * further exchange until the final presentation sort. The df table
    * is the IDF model (vocabulary-bounded, the same assumption Spark
    * ML's IDF model makes), so it broadcasts back; corpus size arrives
    * as a broadcast 1-row aggregate, not a driver action.
    */
  val tfidf = Query(
    "tx_tfidf",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tf = graft.core.Par
        .spreadBy(docs.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df from its OWN scan (per-row distinct terms, then count) so
      // the broadcast build never re-executes the tf pipeline — a
      // broadcast exchange cannot reuse the stream side's shuffle, so
      // deriving df from tf would compute tf twice (measured 4× cost)
      val df = docs
        .select(explode(array_distinct(toks(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(
          col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("tf").desc, col("df"), col("term"))))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("term"))
    },
    oracle = Some("""
      WITH tok AS (
        SELECT doc_id,
          unnest(list_filter(string_split(text, ' '), x -> length(x) > 0))
            AS term
        FROM documents
      ), tfc AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
      ), dfc AS (
        SELECT term, count(*) AS df FROM tfc GROUP BY 1
      ), n AS (SELECT count(*) AS n_docs FROM documents),
      ranked AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
          round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 4) AS tfidf,
          row_number() OVER (PARTITION BY t.doc_id
                             ORDER BY t.tf DESC, d.df, t.term) AS rk
        FROM tfc t JOIN dfc d USING (term) CROSS JOIN n)
      SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rk <= 5
      ORDER BY doc_id, term
    """),
    headline = true,
  )

  /** Repetition signals (the Gopher-family quality filters): duplicate-
    * token ratio, duplicate-trigram ratio, and the fraction of bigram
    * slots taken by the document's most frequent bigram. The verdict
    * compares ROUNDED values so both engines branch identically.
    *
    * The per-row ratios ride through the bigram aggregation as grouping
    * keys (they are functions of doc_id) — one explode feeding two
    * doc_id-prefixed partial aggregations, no self-join back to the
    * documents scan. The scan pre-partitions on doc_id (text payload on
    * the wire, fanned to cluster width for the per-row n-gram work);
    * both groupBys' keys are doc_id-prefixed, so neither needs another
    * exchange — the only other shuffle is the presentation sort.
    */
  val repetition = Query(
    "tx_repetition",
    (s, dir) => {
      val trigramsDistinct = {
        val t = col("t")
        size(array_distinct(transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
            element_at(t, i + 2)))))
      }
      graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(
          col("doc_id"), col("t"),
          size(col("t")).as("n_tokens"),
          round(lit(1) - size(array_distinct(col("t"))).cast("double") /
            size(col("t")), 4).as("dup_token_ratio"),
          when(size(col("t")) >= 3,
            round(lit(1) - trigramsDistinct.cast("double") /
              (size(col("t")) - 2), 4)).otherwise(lit(0.0))
            .as("dup_trigram_ratio"),
        )
        .select(col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
          col("dup_trigram_ratio"),
          explode(transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1)))).as("bigram"))
        .groupBy(col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
          col("dup_trigram_ratio"), col("bigram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
          col("dup_trigram_ratio"))
        .agg(max(col("c")).as("top_n"))
        .withColumn("top_bigram_frac",
          round(col("top_n").cast("double") / (col("n_tokens") - 1), 4))
        .withColumn("verdict",
          when(col("top_bigram_frac") > 0.18 ||
            col("dup_trigram_ratio") > 0.95, lit("drop"))
            .otherwise(lit("keep")))
        .select(col("doc_id"), col("n_tokens"), col("dup_token_ratio"),
          col("dup_trigram_ratio"), col("top_bigram_frac"), col("verdict"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), base AS (
        SELECT doc_id, t, len(t) AS n_tokens,
          round(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
            AS dup_token_ratio,
          CASE WHEN len(t) >= 3 THEN
            round(1 - CAST(len(list_distinct(list_transform(
              range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE) /
              (len(t) - 2), 4)
          ELSE 0.0 END AS dup_trigram_ratio
        FROM t WHERE len(t) >= 2
      ), bg AS (
        SELECT doc_id, bigram, count(*) AS c FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(t)),
              i -> t[i] || ' ' || t[i+1])) AS bigram
          FROM base)
        GROUP BY 1, 2
      ), top AS (SELECT doc_id, max(c) AS top_n FROM bg GROUP BY 1)
      SELECT b.doc_id, b.n_tokens, b.dup_token_ratio, b.dup_trigram_ratio,
        round(CAST(o.top_n AS DOUBLE) / (b.n_tokens - 1), 4)
          AS top_bigram_frac,
        CASE WHEN round(CAST(o.top_n AS DOUBLE) / (b.n_tokens - 1), 4) > 0.18
               OR b.dup_trigram_ratio > 0.95
             THEN 'drop' ELSE 'keep' END AS verdict
      FROM base b JOIN top o USING (doc_id)
      ORDER BY doc_id
    """),
  )

  private val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII detection + redaction (emails, phone numbers). The synthetic
    * corpus is PII-free, so — like the dedup module's planted
    * duplicates — a `src0` slice with appended PII is unioned in under
    * shifted doc_ids, giving the scrubber a non-empty, verifiable
    * answer. Patterns are restricted to the Java-regex ∩ RE2 common
    * dialect so both engines match identically; redacted text crosses
    * the compare as an md5 (the driver hashes values anyway — this
    * keeps the output narrow).
    */
  val piiRedact = Query(
    "tx_pii_redact",
    (s, dir) => {
      val d = Tables(s, dir).documents
      val corpus = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("source") === "src0").select(
          (col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(
            " contact alice@example.com or bob.smith@mail.org call 555-123-4567"))
            .as("text")))
      corpus
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
            .as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("text"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .filter(col("n_emails") + col("n_phones") > 0)
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000 AS doc_id,
          text || ' contact alice@example.com or bob.smith@mail.org call 555-123-4567'
            AS text
        FROM documents WHERE source = 'src0')
      SELECT doc_id,
        len(regexp_extract_all(text, '$emailRe')) AS n_emails,
        len(regexp_extract_all(text, '$phoneRe')) AS n_phones,
        md5(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
            '$phoneRe', '<PHONE>', 'g')) AS redacted_md5
      FROM corpus
      WHERE len(regexp_extract_all(text, '$emailRe')) +
            len(regexp_extract_all(text, '$phoneRe')) > 0
      ORDER BY doc_id
    """),
  )

  /** Character-entropy quality signal: Shannon entropy (bits/char) of
    * each document's character distribution — low entropy flags
    * repetitive/boilerplate text, high entropy flags binary junk; a
    * standard corpus-filter feature next to the token-band and
    * repetition filters. Computed as H = log2(T) − Σ c·log2(c) / T
    * over per-char counts (all-integer log inputs, so both engines
    * evaluate identical terms; the rounded sum absorbs order effects).
    * Same single-exchange shape as [[repetition]]: pre-partition on
    * doc_id, explode chars, two doc_id-prefixed aggregations.
    */
  val entropy = Query(
    "tx_entropy",
    (s, dir) => {
      graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("total"),
          sum(col("cnt") * log2(col("cnt"))).as("s"))
        .select(col("doc_id"),
          round(log2(col("total")) - col("s") / col("total"), 4)
            .as("entropy_bits"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH ch AS (
        SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        FROM documents
      ), c AS (
        SELECT doc_id, ch, count(*) AS cnt FROM ch
        WHERE ch <> '' GROUP BY 1, 2
      ), t AS (
        SELECT doc_id, sum(cnt) AS total, sum(cnt * log2(cnt)) AS s
        FROM c GROUP BY 1)
      SELECT doc_id, round(log2(total) - s / total, 4) AS entropy_bits
      FROM t ORDER BY doc_id
    """),
  )

  /** Deterministic stratified sampling as a declared query: per-source
    * Bernoulli on an md5 hash bucket of (salt, doc_id) — 50% of `src0`,
    * 10% of everything else. Same per-row hash-gate semantics as
    * [[Mix]] (which uses xxhash64 — cheaper, but with no DuckDB
    * counterpart; this md5 variant makes the sampling operator itself
    * oracle-checkable). Replayable by construction: the salt pins the
    * sample across runs and engines — no `rand()` anywhere.
    */
  val sample = Query(
    "tx_sample",
    (s, dir) => {
      val bucket = conv(
        substring(md5(concat(lit("smp1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 100
      Tables(s, dir).documents
        .select(col("doc_id"), col("source"), bucket.as("b"))
        .filter((col("source") === "src0" && col("b") < 50) ||
          (col("source") =!= "src0" && col("b") < 10))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          ('0x' || substr(md5('smp1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100
            AS b
        FROM documents)
      WHERE (source = 'src0' AND b < 50) OR (source <> 'src0' AND b < 10)
      ORDER BY doc_id
    """),
  )

  /** Sequence packing — the pretraining batching op: documents are
    * greedily packed, in doc_id order WITHIN EACH SOURCE SHARD, into
    * 256-token context windows (a doc starts in the window its running
    * token offset falls in; boundary docs spill into the next window,
    * the standard pack-then-split layout). Output: per (source, bin)
    * document and token counts — the batch manifest a data loader
    * consumes.
    *
    * Scale shape: a TWO-LEVEL PREFIX SUM, not a per-shard window. A
    * `Window.partitionBy(source)` plans ONE partition per source, so
    * with a handful of shards one task must sort and scan an entire
    * shard (terabytes through one task at 100 TB). Instead: range-
    * partition on (source, doc_id) — each source occupies a contiguous
    * RUN of partitions, parallelism is the partition count, not the
    * shard count — then (1) a per-partition pass collects per-(partition,
    * source) token totals (tiny: ≤ partitions + sources rows), (2) the
    * driver prefix-sums them into per-partition starting offsets and
    * broadcasts the map, (3) a second per-partition pass adds each row's
    * local running sum to its partition's offset. Output is identical to
    * the window formulation; no task ever holds more than one partition.
    *
    * Both passes consume the SAME RDD instance, so they reuse one
    * shuffle: range-boundary sampling runs once and cannot diverge
    * between the offsets job and the final scan (two separately-planned
    * jobs could sample different bounds and mis-assign offsets).
    *
    * Null semantics match the SQL oracle's window sum: a null-text doc
    * has NULL n_tokens — it advances the running offset by 0 (SQL SUM
    * skips nulls), still counts in its bin's n_docs, and contributes
    * nothing to the bin's token sum. The per-partition offset map is
    * BOUNDED (≤ partitions × sources entries) so it ships in the task
    * closure directly — no broadcast variable whose lifecycle would
    * outlive the query (repeated bench runs would accumulate blocks).
    */
  private[graft] def packSorted(s: SparkSession, dir: String): DataFrame = {
    val nPart = s.sessionState.conf.numShufflePartitions
    Tables(s, dir).documents
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).as("n_tokens"))
      .repartitionByRange(nPart, col("source"), col("doc_id"))
      .sortWithinPartitions(col("source"), col("doc_id"))
  }

  /** Pass 1 of the two-level prefix sum: per-(partition, source) token
    * totals — the bounded driver collect (≤ partitions × sources rows).
    */
  private[graft] def packPartials(
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row])
      : Array[((Int, String), Long)] =
    rows.mapPartitionsWithIndex { (pid, it) =>
      val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val src = r.getString(0)
        val n   = if (r.isNullAt(2)) 0 else r.getInt(2)
        sums.update(src, sums.getOrElse(src, 0L) + n)
      }
      sums.iterator.map { case (src, t) => ((pid, src), t) }
    }.collect()

  /** The two-level prefix-sum pack protocol over a pre-sorted
    * `(source, doc_id, n_tokens:int)` frame — shared by [[pack]]
    * (whitespace token counts) and [[packBpe]] (trained-BPE token
    * counts); the token-count DEFINITION is the only thing that
    * differs between the two manifests.
    */
  private def packProtocol(s: SparkSession, sorted: DataFrame): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val rows = sorted.rdd // shared by both jobs — one shuffle, one set of range bounds
      val partials = packPartials(rows)
      val offsets: Map[(Int, String), Long] =
        partials.groupBy(_._1._2).flatMap { case (src, arr) =>
          var acc = 0L
          arr.sortBy(_._1._1).map { case ((pid, _), t) =>
            val entry = ((pid, src), acc); acc += t; entry
          }
        }
      val schema = StructType(Seq(
        StructField("source", StringType),
        StructField("bin", LongType),
        StructField("n_tokens", IntegerType)))
      val binned = rows.mapPartitionsWithIndex { (pid, it) =>
        val running = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { r =>
          val src = r.getString(0)
          val nTok: Any = if (r.isNullAt(2)) null else r.getInt(2)
          val n = if (r.isNullAt(2)) 0 else r.getInt(2)
          val prior = offsets.getOrElse((pid, src), 0L) +
            running.getOrElse(src, 0L)
          running.update(src, running.getOrElse(src, 0L) + n)
          Row(src, prior / 256L, nTok)
        }
      }
      s.createDataFrame(binned, schema)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
        .orderBy(col("source"), col("bin"))
  }

  val pack = Query(
    "tx_pack",
    (s, dir) => packProtocol(s, packSorted(s, dir)),
    eagerPlan = Some(packSorted),
    oracle = Some("""
      WITH d AS (
        SELECT source, doc_id,
          len(list_filter(string_split(text, ' '), x -> length(x) > 0))
            AS n_tokens
        FROM documents
      ), c AS (
        SELECT source, doc_id, n_tokens,
          coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
            AS prior
        FROM d)
      SELECT source, (prior // 256) AS bin, count(*) AS n_docs,
        sum(n_tokens)::BIGINT AS n_tokens
      FROM c GROUP BY 1, 2 ORDER BY 1, 2
    """),
  )

  /** Context-length ladder evaluation — the measurement that DECIDES
    * the packing policy [[pack]] executes: for every candidate context
    * length (64/128/256/512), how much padding a document-isolated
    * layout wastes (each doc padded to a multiple of L), how many
    * documents exceed L (truncation/splitting exposure), and how many
    * bins a perfect cross-document packing would need instead — the
    * padding-vs-packing trade a pretraining run reads before choosing
    * L and whether sequence packing is worth its attention-mask cost.
    * Everything is exact integer arithmetic per doc (ceil-division via
    * (n + L − 1) / L on both engines); the only doubles are the two
    * final share divisions of exact integers.
    *
    * Scale shape: one scan computes the token count per doc, a
    * 4-element literal explode multiplies rows map-side, and the
    * partial agg collapses to 4 groups before the wire — the whole
    * report is one exchange of 4 rows.
    */
  val packEval = Query(
    "tx_pack_eval",
    (s, dir) => {
      val d = Tables(s, dir).documents
        .select(size(toks(col("text"))).cast("long").as("n"))
        .select(col("n"), explode(array(lit(64L), lit(128L), lit(256L),
          lit(512L))).as("ctx_len"))
      // `div`, not `/`: Spark's / on longs is a DOUBLE division — exact
      // integer ceil-division must never route through floating point
      val bins = expr("(n + ctx_len - 1) div ctx_len")
      d.groupBy(col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(when(col("n") > col("ctx_len"), 1L).otherwise(0L))
            .as("n_docs_over"),
          sum(bins).cast("long").as("iso_bins"))
        .select(col("ctx_len"), col("n_docs"), col("total_tokens"),
          col("n_docs_over"), col("iso_bins"),
          (col("iso_bins") * col("ctx_len") - col("total_tokens"))
            .as("pad_tokens"),
          round((col("iso_bins") * col("ctx_len") - col("total_tokens"))
            .cast("double") / (col("iso_bins") * col("ctx_len")), 4)
            .as("waste_share"),
          expr("(total_tokens + ctx_len - 1) div ctx_len")
            .cast("long").as("min_bins"))
        .withColumn("packing_gain",
          round((col("iso_bins") - col("min_bins")).cast("double") /
            col("iso_bins"), 4))
        .orderBy(col("ctx_len"))
    },
    oracle = Some("""
      WITH d AS (
        SELECT len(list_filter(string_split(text, ' '),
                 x -> length(x) > 0))::BIGINT AS n
        FROM documents
      ), x AS (
        SELECT n, unnest([64, 128, 256, 512])::BIGINT AS ctx_len FROM d
      ), g AS (
        SELECT ctx_len, count(*)::BIGINT AS n_docs,
          sum(n)::BIGINT AS total_tokens,
          sum(CASE WHEN n > ctx_len THEN 1 ELSE 0 END)::BIGINT
            AS n_docs_over,
          sum((n + ctx_len - 1) // ctx_len)::BIGINT AS iso_bins
        FROM x GROUP BY 1)
      SELECT ctx_len, n_docs, total_tokens, n_docs_over, iso_bins,
        (iso_bins * ctx_len - total_tokens)::BIGINT AS pad_tokens,
        round((iso_bins * ctx_len - total_tokens)::DOUBLE
          / (iso_bins * ctx_len), 4) AS waste_share,
        ((total_tokens + ctx_len - 1) // ctx_len)::BIGINT AS min_bins,
        round((iso_bins - (total_tokens + ctx_len - 1) // ctx_len)::DOUBLE
          / iso_bins, 4) AS packing_gain
      FROM g ORDER BY ctx_len
    """),
  )

  /** [[packBpe]]'s sorted input: the same range-partitioned
    * (source, doc_id, n_tokens) frame as [[packSorted]], but n_tokens
    * is the TRAINED-BPE token count — encode the distinct-word table
    * once through [[encodeExpr]] (the [[bpeEncode]] dataflow), join
    * per-(doc, word) counts back, and left-join onto documents so
    * wordless docs keep the [[pack]] null semantics (NULL text →
    * NULL n_tokens; empty text → 0).
    */
  private[graft] def packSortedBpe(s: SparkSession, dir: String): DataFrame = {
    val nPart = s.sessionState.conf.numShufflePartitions
    val merges = trainBpeMerges(s, dir).map(m => (m._2, m._3))
    val docs = Tables(s, dir).documents
    val occ = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    val wid = occ.select(col("word")).distinct()
      .withColumn("n_toks", size(expr(encodeExpr(merges))))
    val perDoc = occ.join(wid, "word").groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("n_toks")).as("nt"))
    docs.select(col("source"), col("doc_id"), col("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source"), col("doc_id"),
        when(col("text").isNull, lit(null))
          .otherwise(coalesce(col("nt"), lit(0L))).cast("int").as("n_tokens"))
      .repartitionByRange(nPart, col("source"), col("doc_id"))
      .sortWithinPartitions(col("source"), col("doc_id"))
  }

  /** The packing manifest a real pretraining run consumes — [[pack]]'s
    * two-level prefix-sum protocol fed by the TRAINED tokenizer's
    * token counts instead of the whitespace proxy, closing the
    * train→encode→pack loop: [[bpeTrain]] learns the merges,
    * [[bpeEncode]]'s vocabulary-level encode prices each document, and
    * this packs those real counts into 256-token context windows.
    * Identical protocol and null semantics to [[pack]]; see
    * [[packSortedBpe]] for the count plumbing and [[bpeEncode]] for
    * why the encode is vocabulary-sized, not corpus-sized.
    */
  val packBpe = Query(
    "tx_pack_bpe",
    (s, dir) => packProtocol(s, packSortedBpe(s, dir)),
    eagerPlan = Some(packSortedBpe),
    oracle = Some(s"""
      WITH $bpeChainCtes,
      wid AS (SELECT word, len(syms) AS n_toks FROM s$bpeRounds),
      occ AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                 x -> length(x) > 0)) AS word
        FROM documents
      ),
      pd AS (
        SELECT doc_id, sum(n_toks)::BIGINT AS nt
        FROM occ JOIN wid USING (word) GROUP BY doc_id
      ),
      d AS (
        SELECT dd.source, dd.doc_id,
          CASE WHEN dd.text IS NULL THEN NULL
               ELSE coalesce(pd.nt, 0) END AS n_tokens
        FROM documents dd LEFT JOIN pd USING (doc_id)
      ), c AS (
        SELECT source, doc_id, n_tokens,
          coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
            AS prior
        FROM d)
      SELECT source, (prior // 256) AS bin, count(*) AS n_docs,
        sum(n_tokens)::BIGINT AS n_tokens
      FROM c GROUP BY 1, 2 ORDER BY 1, 2
    """),
  )

  /** Deterministic train/val/test split manifest — the corpus-planning
    * op every pretraining run starts from: each document is assigned a
    * split by a salted md5 hash bucket of its doc_id (2% test, 3% val,
    * 95% train), so the assignment is replayable across runs, engines,
    * and data re-orderings — no `rand()`, and a document can never
    * migrate between splits when the corpus is re-ingested. Emits the
    * per-(source, split) document/token counts a run manifest records.
    *
    * Scale shape: scan → per-row hash + token count → map-side partial
    * agg → one exchange of ≤ sources×3 groups. The hash gate is the
    * same md5-bucket construction as [[sample]], proven bit-identical
    * to the DuckDB oracle's.
    */
  val trainSplit = Query(
    "tx_split",
    (s, dir) => {
      val b = conv(
        substring(md5(concat(lit("split1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 100
      val sp = when(b < 2, "test").when(b < 5, "val").otherwise("train")
      Tables(s, dir).documents
        .select(col("source"), sp.as("split"),
          size(toks(col("text"))).as("n"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("n_tokens"))
        .orderBy(col("source"), col("split"))
    },
    oracle = Some("""
      SELECT source, split, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
      FROM (
        SELECT source,
          CASE WHEN b < 2 THEN 'test' WHEN b < 5 THEN 'val'
               ELSE 'train' END AS split,
          len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n
        FROM (SELECT source, text,
                ('0x' || substr(md5('split1:' || doc_id::VARCHAR), 1, 8))::BIGINT
                  % 100 AS b
              FROM documents))
      GROUP BY 1, 2 ORDER BY 1, 2
    """),
  )

  /** Cross-module ATTRITION LEDGER — the "where did my corpus go"
    * table across the whole curation chain, not within one module:
    * corpus → quality gate → near-dup purge → decontamination → split
    * assignment, one row per stage with in/out/dropped counts that
    * provably telescope (stage k's docs_in = stage k−1's docs_out;
    * the split fan-out's outs sum to the survivors). Every stage rule
    * is the SHARED kernel of the query that owns it — `qualityScored`
    * (tx_quality / tx_filter_funnel / mm_pair_manifest's caption
    * gate), `DedupQueries.textClusters`' keep-the-representative rule
    * (dd_dup_clusters / dd_purge_plan), the 8-gram `shingleHash32`
    * benchmark overlap (dd_decontaminate, with the `% 97` eval slice
    * itself removed from training — a pipeline never trains on its
    * benchmark), and tx_split's salted-md5 bucket — so the ledger
    * cannot drift from the stages it reconciles.
    *
    * Scale shape: per-doc flags are one pass over kernels already
    * adjudicated (the cluster chain banded+capped, the bench gram set
    * eval-sized, hashes per-row); the ledger itself collapses to ONE
    * 1-row aggregate plus a ≤3-row split rollup — a 4-field exchange
    * at any corpus size. The stage rows explode from the 1-row
    * aggregate; the split rows' docs_in is a window sum over ≤3 rows
    * (bounded by construction, no corpus window).
    */
  val corpusLedger = Query(
    "tx_corpus_ledger",
    (s, dir) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val q = qualityScored(s, dir)
        .select(col("doc_id"), (col("verdict") === "keep").as("keep_q"))
      val cl = graft.dedup.DedupQueries.textClusters(s, dir)
      val grams = graft.core.Par.spreadBy(d, col("doc_id"))
        .select(col("doc_id"),
          explode(graft.functions.HashFunctions.shingleHash32(col("text"), 8))
            .as("h"))
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select(col("h")).distinct()
      val hits = grams.filter(col("doc_id") % 97 =!= 0)
        .join(bench, "h") // AQE broadcasts the eval-sized gram set
        .select(col("doc_id")).distinct()
        .withColumn("hit", lit(true))
      val b = conv(
        substring(md5(concat(lit("split1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 100
      val flags = d.select(col("doc_id"))
        .join(q, "doc_id")
        .join(cl, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("keep_q"),
          (col("cluster").isNull || col("cluster") === col("doc_id"))
            .as("is_rep"),
          (col("doc_id") % 97 === 0 || coalesce(col("hit"), lit(false)))
            .as("contam"),
          when(b < 2, "test").when(b < 5, "val").otherwise("train")
            .as("split"))
      val a = flags.agg(
        count(lit(1)).as("n"),
        sum(when(col("keep_q"), 1L).otherwise(0L)).as("k1"),
        sum(when(col("keep_q") && col("is_rep"), 1L).otherwise(0L))
          .as("k2"),
        sum(when(col("keep_q") && col("is_rep") && !col("contam"), 1L)
          .otherwise(0L)).as("k3"))
      val stages = a.select(explode(array(
        struct(lit(0L).as("stage_no"), lit("corpus").as("stage"),
          col("n").as("docs_in"), col("n").as("docs_out")),
        struct(lit(1L).as("stage_no"), lit("quality").as("stage"),
          col("n").as("docs_in"), col("k1").as("docs_out")),
        struct(lit(2L).as("stage_no"), lit("dedup_purge").as("stage"),
          col("k1").as("docs_in"), col("k2").as("docs_out")),
        struct(lit(3L).as("stage_no"), lit("decontaminate").as("stage"),
          col("k2").as("docs_in"), col("k3").as("docs_out")))).as("r"))
        .select(col("r.stage_no"), col("r.stage"),
          col("r.docs_in"), col("r.docs_out"),
          (col("r.docs_in") - col("r.docs_out")).as("docs_dropped"))
      val splitRows = flags
        .filter(col("keep_q") && col("is_rep") && !col("contam"))
        .groupBy(col("split")).agg(count(lit(1)).as("c"))
        .select(lit(4L).as("stage_no"),
          concat(lit("split:"), col("split")).as("stage"),
          // the fan-out's input = its own outs' total (≤3-row window)
          sum(col("c")).over(Window.partitionBy()).as("docs_in"),
          col("c").as("docs_out"), lit(0L).as("docs_dropped"))
      stages.unionByName(splitRows).orderBy(col("stage_no"), col("stage"))
    },
    oracle = Some(s"""
      WITH RECURSIVE ${graft.dedup.DedupQueries.textClusterCtes},
      $qualityScoredSql,
      lt AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), lg AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(
            list_transform(range(1, greatest(len(t) - 6, 1)),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                || ' ' || t[i+7]),
            x -> ('0x' || substr(md5(x), 1, 8))::BIGINT))) AS h
        FROM lt
      ), lbench AS (SELECT DISTINCT h FROM lg WHERE doc_id % 97 = 0),
      lhits AS (
        SELECT DISTINCT doc_id FROM lg JOIN lbench USING (h)
        WHERE doc_id % 97 <> 0
      ), flags AS (
        SELECT d.doc_id,
          (q.verdict = 'keep') AS keep_q,
          (c.cluster IS NULL OR c.cluster = d.doc_id) AS is_rep,
          (d.doc_id % 97 = 0 OR hh.doc_id IS NOT NULL) AS contam,
          CASE WHEN d.b < 2 THEN 'test' WHEN d.b < 5 THEN 'val'
               ELSE 'train' END AS split
        FROM (SELECT doc_id,
                ('0x' || substr(md5('split1:' || doc_id::VARCHAR), 1, 8))::BIGINT
                  % 100 AS b
              FROM documents) d
        JOIN txq q USING (doc_id)
        LEFT JOIN cl c USING (doc_id)
        LEFT JOIN lhits hh USING (doc_id)
      ), a AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN keep_q THEN 1 ELSE 0 END)::BIGINT AS k1,
          sum(CASE WHEN keep_q AND is_rep THEN 1 ELSE 0 END)::BIGINT AS k2,
          sum(CASE WHEN keep_q AND is_rep AND NOT contam
              THEN 1 ELSE 0 END)::BIGINT AS k3
        FROM flags
      ), sp AS (
        SELECT split, count(*)::BIGINT AS c,
          sum(count(*)) OVER ()::BIGINT AS tot
        FROM flags WHERE keep_q AND is_rep AND NOT contam GROUP BY 1)
      SELECT * FROM (
        SELECT 0::BIGINT AS stage_no, 'corpus' AS stage,
          n AS docs_in, n AS docs_out, 0::BIGINT AS docs_dropped FROM a
        UNION ALL SELECT 1, 'quality', n, k1, n - k1 FROM a
        UNION ALL SELECT 2, 'dedup_purge', k1, k2, k1 - k2 FROM a
        UNION ALL SELECT 3, 'decontaminate', k2, k3, k2 - k3 FROM a
        UNION ALL SELECT 4, 'split:' || split, tot, c, 0 FROM sp
      ) ORDER BY stage_no, stage
    """),
  )

  /** Deterministic global-shuffle shard manifest — the data-loader
    * layout op: documents are scattered into 16 shards by a salted
    * hash (the distributed equivalent of "shuffle the corpus and cut
    * it into files"), and the manifest reports each shard's size plus
    * its mixing quality (`top_source_share` — the largest single-source
    * fraction; a correct scatter pushes every shard toward 1/sources).
    * Training-order determinism matters: re-running the pipeline must
    * yield byte-identical shards, which hash assignment guarantees and
    * `rand()` does not.
    *
    * Scale shape: two bounded aggregations — per-(shard, source)
    * partial agg rides the scan (≤ 16×sources groups on the wire), the
    * per-shard rollup is 16 rows. No row-level shuffle of document
    * content happens here at all: the manifest is computed from counts,
    * and the actual shard WRITE at 100 TB would be
    * `df.repartition(16, hash).write` driven by the same gate.
    */
  val shards = Query(
    "tx_shards",
    (s, dir) => {
      val shard = conv(
        substring(md5(concat(lit("shard1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 16
      Tables(s, dir).documents
        .select(shard.as("shard"), col("source"),
          size(toks(col("text"))).as("n"))
        .groupBy(col("shard"), col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n")).as("tok"))
        .groupBy(col("shard"))
        .agg(sum(col("cnt")).cast("long").as("n_docs"),
          sum(col("tok")).cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("n_sources"),
          round(max(col("cnt")).cast("double") / sum(col("cnt")), 4)
            .as("top_source_share"))
        .orderBy(col("shard"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT ('0x' || substr(md5('shard1:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 % 16 AS shard,
          source,
          len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n
        FROM documents
      ), g AS (
        SELECT shard, source, count(*) AS cnt, sum(n) AS tok
        FROM p GROUP BY 1, 2
      )
      SELECT shard, sum(cnt)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
        count(*)::BIGINT AS n_sources,
        round(max(cnt)::DOUBLE / sum(cnt), 4) AS top_source_share
      FROM g GROUP BY 1 ORDER BY 1
    """),
  )

  /** Source-mixture rebalancing — the recipe op that turns raw corpus
    * proportions into sampling weights: given a uniform target mixture
    * (1/sources of the token budget each), every source gets
    * `weight = min(1, target/actual)` — oversized sources are
    * downsampled, undersized ones pass through whole (upsampling is a
    * training-loop concern, not a data op). `planned_tokens` is the
    * post-sampling token count the recipe would yield; feeding `weight`
    * into the [[sample]]/[[Mix]] hash gate materializes it.
    *
    * Scale shape: ONE pass over the big table into a per-source partial
    * agg (≤ sources rows cross the wire), then a whole-frame window
    * over that ≤ sources-row aggregate — the single-partition window is
    * bounded by the source count, never by data volume (same bounded-
    * rollup pattern the plan lint allows on 1-row aggregates).
    */
  val mixRebalance = Query(
    "tx_mix_rebalance",
    (s, dir) => {
      val whole = Window.partitionBy()
      val total = sum(col("n_tokens")).over(whole)
      val nSrc  = count(lit(1)).over(whole)
      Tables(s, dir).documents
        .groupBy(col("source"))
        .agg(sum(size(toks(col("text")))).cast("long").as("n_tokens"))
        .select(col("source"), col("n_tokens"),
          round(col("n_tokens").cast("double") / total, 4).as("share"),
          least(lit(1.0),
            round(total.cast("double") / (nSrc * col("n_tokens")), 4))
            .as("weight"))
        .withColumn("planned_tokens",
          floor(col("weight") * col("n_tokens")).cast("long"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT source,
          sum(len(list_filter(string_split(text, ' '), x -> length(x) > 0)))::BIGINT
            AS n_tokens
        FROM documents GROUP BY 1
      ), w AS (
        SELECT source, n_tokens,
          round(n_tokens::DOUBLE / sum(n_tokens) OVER (), 4) AS share,
          least(1.0, round(sum(n_tokens) OVER ()::DOUBLE
            / (count(*) OVER () * n_tokens), 4)) AS weight
        FROM g
      )
      SELECT source, n_tokens, share, weight,
        floor(weight * n_tokens)::BIGINT AS planned_tokens
      FROM w ORDER BY source
    """),
  )

  /** Temperature-based source mixing (T=2) — the OTHER standard mixing
    * recipe next to [[mixRebalance]]'s uniform target (XLM-R / mT5 /
    * Pile style): sampling weights ∝ share^(1/T), which UPWEIGHTS
    * small sources smoothly instead of capping big ones — the knob
    * multilingual / multi-domain pretraining actually tunes. T=2 makes
    * the exponent a SQUARE ROOT, deliberately: IEEE-754 requires sqrt
    * to be correctly rounded, so both engines compute bit-identical
    * doubles from the same integer token counts, whereas a general
    * `pow` is not correctly rounded and stays banned from oracled
    * kernels (the no-trig rule). The sqrt weights are floored to ppm
    * INTEGERS before the normalizing sum, so the only cross-row
    * reduction over non-integers is avoided entirely — float summation
    * order can't flip the gate (the Σn/Σn² integer-sum rule).
    *
    * Output per source: natural share, temperature weight, the planned
    * post-sampling token count, and the boost factor (weight/share —
    * >1 means the source is upsampled relative to natural).
    *
    * Scale shape: identical to [[mixRebalance]] — one pass over the
    * big table into a ≤ sources-row partial agg, then bounded windows
    * over that rollup. One exchange of ≤ sources rows.
    */
  val mixTemperature = Query(
    "tx_mix_temperature",
    (s, dir) => {
      val whole = Window.partitionBy()
      val g = Tables(s, dir).documents
        .groupBy(col("source"))
        .agg(sum(size(toks(col("text")))).cast("long").as("n_tokens"))
        .withColumn("tok_total", sum(col("n_tokens")).over(whole))
        // ppm-floored sqrt share: integer, so the normalizing sum is
        // order-independent across engines
        .withColumn("w",
          floor(sqrt(col("n_tokens").cast("double") / col("tok_total"))
            * lit(1000000.0)).cast("long"))
        .withColumn("tw_total", sum(col("w")).over(whole))
      g.select(col("source"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("tok_total"), 4)
            .as("share"),
          round(col("w").cast("double") / col("tw_total"), 4)
            .as("temp_weight"),
          floor((col("w").cast("double") * col("tok_total")) / col("tw_total"))
            .cast("long").as("planned_tokens"),
          when(col("n_tokens") === 0, lit(null)).otherwise(
            round((col("w").cast("double") * col("tok_total")) /
              (col("tw_total") * col("n_tokens")), 4)).as("boost"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT source,
          sum(len(list_filter(string_split(text, ' '), x -> length(x) > 0)))::BIGINT
            AS n_tokens
        FROM documents GROUP BY 1
      ), t AS (
        SELECT source, n_tokens,
          sum(n_tokens) OVER () AS tok_total,
          floor(sqrt(n_tokens::DOUBLE / sum(n_tokens) OVER ())
            * 1000000.0)::BIGINT AS w
        FROM g
      ), u AS (SELECT *, sum(w) OVER () AS tw_total FROM t)
      SELECT source, n_tokens,
        round(n_tokens::DOUBLE / tok_total, 4) AS share,
        round(w::DOUBLE / tw_total, 4) AS temp_weight,
        floor((w::DOUBLE * tok_total) / tw_total)::BIGINT AS planned_tokens,
        CASE WHEN n_tokens = 0 THEN NULL
             ELSE round((w::DOUBLE * tok_total) / (tw_total * n_tokens), 4)
        END AS boost
      FROM u ORDER BY source
    """),
  )

  /** Quality-filter funnel — the attribution report behind a composed
    * corpus clean: every document is charged to the FIRST gate that
    * rejects it (cheap structural gates before ratio gates, the order a
    * real pipeline applies them in), then rolled up per (source,
    * reason) with each reason's share of its source. This is the
    * "where did my corpus go" table a filtering run publishes — without
    * it, a keep-rate drop is undebuggable.
    *
    * The ratio gates are guarded behind token-count minimums on BOTH
    * engines so no branch ever divides by zero; empty/absent text falls
    * to the structural gates first. The repetition gate is the
    * dup-trigram ratio at [[repetition]]'s 0.95 threshold — a
    * dup-TOKEN ratio would flag most natural prose (function words
    * always repeat).
    *
    * Scale shape: scan (spread to cluster width — the gate kernel is
    * the cost, not the read) → per-row gate chain over a MATERIALIZED
    * token array → map-side partial agg to ≤ sources×6 groups → a
    * per-source window over that bounded rollup. One exchange of group
    * rows. The token array is aliased in its own projection and every
    * downstream expression references the attribute: inlining `toks()`
    * into the trigram lambda re-tokenizes the document at every element
    * position (O(n²) splits per doc — measured 9 s vs 0.5 s at sf0.1).
    * CollapseProject keeps the alias because a non-cheap expression
    * referenced more than once is not inlined. The trigram ratio is
    * additionally gated behind the structural/stopword outcomes so
    * rejected documents never pay the O(n) trigram build.
    */
  val filterFunnel = Query(
    "tx_filter_funnel",
    (s, dir) => {
      val stopRatio = when(col("n_tok") > 0,
        size(filter(col("t"), x => x.isInCollection(stopwords)))
          .cast("double") / col("n_tok"))
      val structuralPass = col("text").isNotNull &&
        col("n_tok") >= 10 && col("n_tok") <= 2000 &&
        col("stop_ratio") >= 0.01 && col("stop_ratio") <= 0.6
      val dupTrigram = when(structuralPass && col("n_tok") >= 3,
        lit(1.0) - size(array_distinct(transform(
          sequence(lit(1), col("n_tok") - 2),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2)))))
          .cast("double") / (col("n_tok") - 2))
      val reason = when(col("text").isNull, "empty")
        .when(col("n_tok") < 10, "too_short")
        .when(col("n_tok") > 2000, "too_long")
        .when(col("stop_ratio") < 0.01, "low_stopword")
        .when(col("stop_ratio") > 0.6, "high_stopword")
        .when(col("dup_trigram") > 0.95, "repetitive")
        .otherwise("keep")
      val g = graft.core.Par
        .spread(Tables(s, dir).documents.select(col("source"), col("text")))
        .select(col("source"), col("text"), toks(col("text")).as("t"))
        .select(col("source"), col("text"), col("t"),
          size(col("t")).as("n_tok"))
        .select(col("source"), col("text"), col("t"), col("n_tok"),
          stopRatio.as("stop_ratio"))
        .select(col("source"), col("text"), col("n_tok"),
          col("stop_ratio"), dupTrigram.as("dup_trigram"))
        .groupBy(col("source"), reason.as("reason"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
      g.withColumn("pct",
          round(col("n_docs").cast("double") /
            sum(col("n_docs")).over(Window.partitionBy(col("source"))), 4))
        .orderBy(col("source"), col("reason"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT source,
          len(list_filter(string_split(text, ' '), x -> length(x) > 0))
            AS n_tokens,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t,
          text
        FROM documents
      ), r AS (
        SELECT source,
          CASE WHEN text IS NULL THEN 'empty'
               WHEN n_tokens < 10 THEN 'too_short'
               WHEN n_tokens > 2000 THEN 'too_long'
               WHEN (CASE WHEN n_tokens > 0 THEN
                 len(list_filter(t, x -> x IN
                   ('the','a','and','of','or','is','in')))::DOUBLE / n_tokens
                 END) < 0.01 THEN 'low_stopword'
               WHEN (CASE WHEN n_tokens > 0 THEN
                 len(list_filter(t, x -> x IN
                   ('the','a','and','of','or','is','in')))::DOUBLE / n_tokens
                 END) > 0.6 THEN 'high_stopword'
               WHEN (CASE WHEN n_tokens >= 3 THEN
                 1.0 - len(list_distinct(list_transform(
                   range(1, n_tokens - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))::DOUBLE
                   / (n_tokens - 2)
                 END) > 0.95 THEN 'repetitive'
               ELSE 'keep' END AS reason
        FROM m
      ), g AS (
        SELECT source, reason, count(*)::BIGINT AS n_docs
        FROM r GROUP BY 1, 2
      )
      SELECT source, reason, n_docs,
        round(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY source), 4)
          AS pct
      FROM g ORDER BY 1, 2
    """),
  )

  /** Fixed-window document chunking with overlap — the embedding/RAG
    * ingestion op: each document splits into 32-token windows advancing
    * by 24 (8-token overlap), chunk i covering tokens [24i, 24i+32).
    * Emits the per-document chunk manifest (count + last-chunk fill);
    * the chunk count is the closed form max(1, ⌈(n−8)/24⌉), zero for
    * empty docs. Pure per-row arithmetic on the token count —
    * embarrassingly parallel, no shuffle before the presentation sort.
    */
  val chunks = Query(
    "tx_chunks",
    (s, dir) => {
      val n  = col("n_tokens")
      val nc = greatest(lit(1),
        floor((n + lit(15)) / lit(24)).cast("int"))
      Tables(s, dir).documents
        .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"))
        .select(col("doc_id"), n,
          when(n === 0, 0).otherwise(nc).as("n_chunks"),
          when(n === 0, 0).otherwise(n - lit(24) * (nc - lit(1)))
            .as("last_chunk_tokens"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id, n_tokens::INT AS n_tokens,
        (CASE WHEN n_tokens = 0 THEN 0
              ELSE greatest(1, (n_tokens + 15) // 24) END)::INT AS n_chunks,
        (CASE WHEN n_tokens = 0 THEN 0
              ELSE n_tokens - 24 * (greatest(1, (n_tokens + 15) // 24) - 1)
         END)::INT AS last_chunk_tokens
      FROM (SELECT doc_id,
              len(list_filter(string_split(text, ' '), x -> length(x) > 0))
                AS n_tokens
            FROM documents)
      ORDER BY doc_id
    """),
  )

  /** Corpus vocabulary coverage — the tokenizer-prep op: the top-25
    * terms by frequency with each term's corpus share and the running
    * cumulative coverage (how much of all token mass the top-k covers).
    * This is the curve a tokenizer/vocab build reads to size its vocab
    * and the quickest boilerplate detector (a term covering >5% of a
    * web corpus is markup, not language).
    *
    * Scale shape: explode → one term-count exchange with map-side
    * partial agg (the word-count shape), then `TakeOrderedAndProject`
    * for the global top-25 — a bounded per-partition heap, never a full
    * sort — and the share/cumulative windows run on the 25-row result.
    * The 1-row total rides a broadcast crossJoin.
    */
  val vocab = Query(
    "tx_vocab",
    (s, dir) => {
      val terms = Tables(s, dir).documents
        .select(explode(toks(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = terms.agg(sum(col("cnt")).cast("double").as("total"))
      val top = terms.orderBy(col("cnt").desc, col("term")).limit(25)
      val ord = Window.orderBy(col("cnt").desc, col("term"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .select(
          row_number().over(ord).as("rk"),
          col("term"),
          col("cnt").cast("long").as("cnt"),
          round(col("cnt") / col("total"), 4).as("share"),
          round(sum(col("cnt")).over(cum) / col("total"), 4).as("cum_share"))
        .orderBy(col("rk"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT unnest(list_filter(string_split(text, ' '),
                      x -> length(x) > 0)) AS term
        FROM documents
      ), g AS (
        SELECT term, count(*) AS cnt FROM t GROUP BY 1
      ), tot AS (SELECT sum(cnt)::DOUBLE AS total FROM g),
      top AS (
        SELECT term, cnt FROM g ORDER BY cnt DESC, term LIMIT 25
      )
      SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rk,
        term, cnt::BIGINT AS cnt,
        round(cnt / total, 4) AS share,
        round(sum(cnt) OVER (ORDER BY cnt DESC, term
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / total, 4)
          AS cum_share
      FROM top, tot ORDER BY rk
    """),
  )

  /** Corpus heavy hitters via the [[graft.functions.SpaceSavingTopK]]
    * mergeable sketch — the bounded-memory twin of [[vocab]]. The
    * exact top-25 ([[vocab]]) must shuffle every distinct token to
    * rank it; this folds each partition's tokens into a 64-entry
    * Space-Saving summary (map-side, inside partial aggregation),
    * shuffles only `64 × tasks` summary rows to a single merge, and
    * reports the top 10 with per-entry overestimate bounds. At 100 TB
    * with a real (billions-distinct) vocabulary the group-by's shuffle
    * is the bottleneck and the sketch's N/capacity error is the price;
    * on the test corpus the vocabulary (31 terms) fits the summary, so
    * no eviction ever fires, counts are EXACT and err = 0 — which is
    * precisely what the oracle pins (an `err ≠ 0` regression means the
    * sketch evicted when it must not have). The eviction regime's
    * guarantees are asserted in SketchSpec.
    */
  val heavyHitters = Query(
    "tx_heavy_hitters",
    (s, dir) => {
      val sk = Tables(s, dir).documents
        .select(explode(toks(col("text"))).as("term"))
        .agg(graft.functions.SketchFunctions.spaceSavingTopK(col("term"), 64)
          .as("sk"))
      // ≤ capacity rows from here on — the window is bounded by construction
      val ord = Window.orderBy(col("cnt").desc, col("term"))
      sk.select(explode(col("sk")).as("e"))
        .select(col("e.term").as("term"), col("e.cnt").as("cnt"),
          col("e.err").as("err"))
        .withColumn("rk", row_number().over(ord))
        .filter(col("rk") <= 10)
        .select(col("rk"), col("term"), col("cnt"), col("err"))
        .orderBy(col("rk"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT unnest(list_filter(string_split(text, ' '),
                      x -> length(x) > 0)) AS term
        FROM documents
      ), g AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
      SELECT row_number() OVER (ORDER BY cnt DESC, term) AS rk,
             term, cnt::BIGINT AS cnt, 0::BIGINT AS err
      FROM g ORDER BY cnt DESC, term LIMIT 10
    """),
  )

  /** Per-source admission cap — the "no domain may dominate the
    * corpus" rule every web-scale ingest applies (cap each
    * domain/source at K documents, keeping the longest). Runs through
    * the custom [[graft.plans.TopKPerGroup]] operator: per-partition
    * bounded heaps forward at most K docs per source, the exchange
    * moves only survivors, and no corpus-wide window/sort ever plans —
    * at 100 TB the cap costs one scan plus a K×#sources-row shuffle.
    * Deterministic keep rule (n_chars DESC, doc_id ASC) makes the
    * oracle exact.
    */
  val sourceCap = Query(
    "tx_source_cap",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("source"), col("doc_id"), col("n_chars"))
      val kept = graft.plans.TopK.perGroup(docs, Seq("source"),
        Seq("n_chars" -> false, "doc_id" -> true), 10)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      kept.withColumn("rk", row_number().over(w))
        .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("rk"))
    },
    oracle = Some("""
      SELECT source, rk, doc_id, n_chars FROM (
        SELECT source, doc_id, n_chars,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents)
      WHERE rk <= 10 ORDER BY source, rk
    """),
  )

  /** Stratified eval-set quota sampling — how a held-out evaluation
    * set is actually constructed: a FIXED quota (5 docs) from every
    * (lang × quality-verdict) stratum, selected by a salted-md5 hash
    * order so the sample is "random" yet byte-replayable across runs,
    * engines, and re-ingests (the tx_split discipline — no rand()).
    * Sampling per stratum rather than per corpus is what keeps
    * low-resource languages and drop-verdict docs represented in the
    * eval set instead of drowned by the majority stratum. Third
    * consumer of the shared [[qualityScored]] kernel (one keep-rule
    * definition across filter, manifest, and sampler).
    *
    * Shape: the verdict is per-row expression work, the stratum
    * selection rides the custom TopKPerGroup heap operator — one scan,
    * bounded per-partition heaps, a K×strata-row shuffle; no
    * corpus-wide window or sort anywhere. The presentation rank is a
    * window over the ≤ K×strata kept rows (bounded by construction).
    */
  val evalSample = Query(
    "tx_eval_sample",
    (s, dir) => {
      val hsh = conv(
        substring(md5(concat(lit("eval1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long")
      val strata = qualityScored(s, dir).select(col("doc_id"), col("verdict"))
        .join(Tables(s, dir).documents.select(col("doc_id"), col("lang")),
          "doc_id")
        .withColumn("hsh", hsh)
      val kept = graft.plans.TopK.perGroup(strata, Seq("lang", "verdict"),
        Seq("hsh" -> true, "doc_id" -> true), 5)
      val w = Window.partitionBy(col("lang"), col("verdict"))
        .orderBy(col("hsh"), col("doc_id"))
      kept.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("lang"), col("verdict"), col("rk"), col("doc_id"),
          col("hsh"))
        .orderBy(col("lang"), col("verdict"), col("rk"))
    },
    oracle = Some(s"""
      WITH $qualityScoredSql,
      h AS (
        SELECT d.lang, q.verdict, q.doc_id,
          ('0x' || substr(md5('eval1:' || q.doc_id::VARCHAR), 1, 8))::BIGINT
            AS hsh
        FROM txq q JOIN documents d USING (doc_id)
      )
      SELECT lang, verdict, rk, doc_id, hsh FROM (
        SELECT lang, verdict, doc_id, hsh,
          row_number() OVER (PARTITION BY lang, verdict
                             ORDER BY hsh, doc_id) AS rk
        FROM h)
      WHERE rk <= 5 ORDER BY lang, verdict, rk
    """),
  )

  /** Okapi BM25 retrieval scoring (k1 = 1.2, b = 0.75) of every
    * document against a fixed query-term set — the ranking function a
    * retrieval-augmented pipeline runs over its corpus index, and the
    * length-normalized upgrade of [[tfidf]]. idf is the
    * non-negative BM25+ variant ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Shape: one token explode filtered DOWN TO THE QUERY TERMS before
    * any shuffle (the tf aggregation moves only matching-term rows —
    * at 100 TB the post-filter volume is corpus-hits, not corpus);
    * df (≤ |q| rows) and the N/avgdl stats (1 row) ride in as
    * broadcasts, the same pattern as [[tfidf]]. Ranking ties break on
    * doc_id over the ROUNDED score so both engines order identically.
    */
  /** The BM25 scoring kernel of [[bm25]] as a reusable frame
    * `(doc_id, bm25)` — also the sparse channel of the hybrid
    * retriever ([[graft.similarity.SimilarityQueries]]'s
    * `ss_hybrid_rrf`). Both consumers MUST score identically or their
    * oracles diverge, so there is exactly one copy of the formula.
    */
  /** The one copy of the Okapi BM25 per-posting contribution
    * (k1 = 1.2, b = 0.75, BM25+ idf) — consumed over columns named
    * (tf, df, dl, n_docs, avgdl) by BOTH the in-query scorer
    * [[bm25Scored]] and the persisted-index probe [[bm25Probe]]; one
    * formula, so the probe cannot drift from the train+serve path.
    */
  private[graft] val bm25Contrib: Column =
    log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) *
        (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))

  private[graft] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("join", "vector", "window", "stream")
    val d = Tables(s, dir).documents
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val stats = d.agg(count(lit(1)).as("n_docs"),
      avg(size(col("t"))).as("avgdl"))
    val tf = graft.core.Par.spreadBy(d, col("doc_id"))
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(bm25Contrib), 4).as("bm25"))
  }

  /** Number of term-hash buckets the persisted inverted index is
    * partitioned into — the probe's partition-pruning unit.
    */
  private[graft] final val TextIndexBuckets = 16

  /** Build (once) the PERSISTED inverted index — the retrieval-serving
    * artifact `tx_bm25` recomputes per run and a production tier
    * materializes once (the `ss_ivf_probe` discipline, applied to the
    * sparse channel):
    *  - `postings/`: one row per (term, doc) — term, doc_id, tf, and
    *    the DENORMALIZED doc length (the classic postings payload, so
    *    scoring needs no doc-length join) — written Hive-partitioned
    *    by `bkt = pmod(hash(term), 16)`, so a probe for any term set
    *    partition-prunes to its buckets at planning time.
    *  - `stats/`: the 1-row (n_docs, avgdl) corpus statistics.
    * Per-term document frequency is NOT stored: df(term) = the number
    * of postings rows for the term, computable from the pruned
    * postings at probe time for exactly the terms asked about.
    * Idempotent via a `_built` marker; the build is one explode + one
    * (doc, term) aggregation — the tx_tfidf-scale pass, paid once.
    */
  def buildTextIndex(s: SparkSession, dir: String): String = synchronized {
    // keyed by the documents file's identity (IndexDirs' naming rule):
    // a bare `_built` marker would survive a regenerated corpus and
    // silently diverge the probe from tx_bm25 and its oracle
    graft.core.IndexDirs.publishCurrent(s.sparkContext.hadoopConfiguration,
        dir, "documents.parquet", "graft_text_index") { tmp =>
      writeTextIndex(s, Tables(s, dir).documents, tmp)
    }
  }

  /** Write the stats + term-bucket-partitioned postings of `docs`
    * (doc_id, text) under `idx` — shared by the from-scratch build,
    * the upsert demo's base build, and the rebuild oracle in
    * TextIndexUpsertSpec. Stats carry the EXACT integer `sum_dl`
    * alongside the derived avgdl so the incremental upsert can
    * maintain them without float reconstruction.
    */
  private[graft] def writeTextIndex(s: SparkSession, docs: DataFrame,
      idx: String): Unit = {
    val d = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    postingsOf(d)
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$idx/postings")
    // the doc→buckets routing table (r16): every maintenance pass
    // after this locates a doc's postings (and its dl, for the stats
    // arithmetic) by reading the doc's hash bucket — O(batch), never
    // O(index). Built from a column-pruned read-back of the postings
    // just written. The stats tables derive from it
    // ([[refreshDocStats]] — each doc lives in exactly ONE rb bucket,
    // so the bucket rows sum to the global stats; the build-time
    // `stats` values are identical to the old direct aggregation,
    // now produced by the same code path every maintenance op uses).
    val route = docRoute(idx)
    route.ensure(s, s"$idx/postings")
    refreshDocStats(s, idx, 0 until TextIndexBuckets)
  }

  /** The doc→buckets routing table of a text index: rows (doc_id, dl,
    * bkt) — one per (doc, term-bucket) the doc has postings in —
    * hash-bucketed by doc_id ([[graft.operators.KeyRouting]]). The
    * locating metadata for postings merges/purges AND the anchor for
    * crash-proof stats: per-doc dl rides along, so doc-level
    * aggregates derive from the route's own buckets.
    */
  private[text] def docRoute(idx: String): graft.operators.KeyRouting =
    graft.operators.KeyRouting(idx, Seq("doc_id"), TextIndexBuckets,
      Map("doc_id" -> (d => pmod(hash(d), lit(TextIndexBuckets)))),
      locCol = "bkt", carryCols = Seq("dl"), dirName = "docmap")

  /** Recompute the per-rb-bucket doc stats rows for exactly `rbs` from
    * the docmap (distinct (doc_id, dl) per bucket — a doc's rows all
    * share its ONE dl and ONE rb bucket), then rewrite the global
    * stats as the sum of the ≤[[TextIndexBuckets]] bucket rows. Both
    * tables swap via write-to-sibling; the whole refresh RECOMPUTES
    * FROM DATA, so re-applying after any crash converges — the r16
    * replacement for delta arithmetic on the stats table, whose
    * increments were lost forever if a crash landed between the
    * postings commit and the stats swap (the deltas recomputed
    * post-commit are zero).
    */
  /** The maintenance-pass pending marker: written BEFORE an upsert or
    * delete mutates anything, cleared AFTER the stats refresh — the
    * last, otherwise-unobservable tail. While it exists, an
    * applied-once probe must treat the pass as unfinished and
    * re-apply (every step is recompute-from-data idempotent, so the
    * re-apply is the repair). The kernel's `_meta/pending` discipline
    * lifted to the family's whole maintenance pass.
    */
  private[text] def statsPending(s: SparkSession, idx: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/stats__pending")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  private def setStatsPending(s: SparkSession, idx: String,
      on: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/stats__pending")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (on) fs.create(p, true).close() else fs.delete(p, false)
  }

  private[text] def refreshDocStats(s: SparkSession, idx: String,
      rbs0: Seq[Int]): Unit = {
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    def exists(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
    // no dstats (the build's first refresh, or a crash between the
    // dstats swap's two renames): refresh EVERY bucket, so the sum is
    // never partial
    val rbs =
      if (exists(s"$idx/dstats/_SUCCESS")) rbs0.distinct
      else (0 until TextIndexBuckets).toSeq
    val docmap = s"$idx/docmap"
    val present = rbs.filter(b => exists(s"$docmap/rb=$b")).sorted
    val fresh =
      if (present.isEmpty) Seq.empty[(Int, Long, Long)]
        .toDF("rb", "n_docs", "sum_dl")
      else
        s.read.option("basePath", docmap)
          .parquet(present.map(b => s"$docmap/rb=$b"): _*)
          .select(col("doc_id"), col("dl"), col("rb")).distinct()
          .groupBy(col("rb").cast("int").as("rb"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("dl")).cast("long").as("sum_dl"))
    val kept =
      if (exists(s"$idx/dstats/_SUCCESS"))
        graft.Tables.readPq(s, s"$idx/dstats")
          .filter(!col("rb").isin(rbs.map(Integer.valueOf): _*))
      else fresh.limit(0)
    val dsTmp = s"$idx/dstats__refreshing"
    kept.unionByName(fresh)
      .coalesce(1).write.mode("overwrite").parquet(dsTmp)
    graft.operators.Maintenance.swapDirs(s, dsTmp, s"$idx/dstats")
    val tot = graft.Tables.readPq(s, s"$idx/dstats")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).cast("long").as("n"),
        coalesce(sum(col("sum_dl")), lit(0L)).cast("long").as("sdl"))
      .head() // 1-row bounded collect
    val (nDocs, sumDl) = (tot.getLong(0), tot.getLong(1))
    val stTmp = s"$idx/stats__refreshing"
    Seq((nDocs, if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs, sumDl))
      .toDF("n_docs", "avgdl", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(stTmp)
    graft.operators.Maintenance.swapDirs(s, stTmp, s"$idx/stats")
  }

  /** (doc_id, t) tokenized docs → the postings payload (term, doc_id,
    * dl, tf, bkt) — the ONE definition of a posting row, shared by the
    * full build and the incremental upsert so their rows can't drift.
    */
  private def postingsOf(d: DataFrame): DataFrame =
    graft.core.Par.spreadBy(d, col("doc_id"))
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bkt", pmod(hash(col("term")), lit(TextIndexBuckets)))


  /** DuckDB CTE chain ending in `scored(doc_id, bm25)` — the oracle
    * twin of [[bm25Scored]], parameterized over the corpus relation so
    * `tx_index_delete` can score the SURVIVING corpus with the same
    * text. `bm25ScoredSql` below is the `documents` instance shared by
    * `tx_bm25` and `ss_hybrid_rrf`.
    */
  private[graft] def bm25ScoredSqlFrom(rel: String): String = s"""
      d AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM $rel
      ), nz AS (SELECT doc_id, t, len(t) AS dl FROM d WHERE len(t) > 0),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM nz),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(t) AS term FROM nz)
        WHERE term IN ('join', 'vector', 'window', 'stream')
        GROUP BY 1, 2, 3
      ), dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id,
          round(sum(
            ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
            (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
        FROM tf JOIN dfc USING (term) CROSS JOIN stats
        GROUP BY 1)"""

  private[graft] val bm25ScoredSql = bm25ScoredSqlFrom("documents")

  val bm25 = Query(
    "tx_bm25",
    (s, dir) => {
      val scored = bm25Scored(s, dir)
      // global top-25 via sort-limit (TakeOrderedAndProject — per-
      // partition heaps, no global sort); the rank window then runs
      // over ≤ 25 rows, bounded by construction
      scored.orderBy(col("bm25").desc, col("doc_id")).limit(25)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("rk"), col("doc_id"), col("bm25"))
        .orderBy(col("rk"))
    },
    oracle = Some(s"""
      WITH $bm25ScoredSql
      SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk,
             doc_id, bm25
      FROM scored ORDER BY bm25 DESC, doc_id LIMIT 25
    """),
  )

  /** BM25 serving against the PERSISTED index — identical semantics to
    * [[bm25]] (same oracle, the ss_ivf_probe discipline), but the
    * query runs NO corpus pass: the query terms' buckets resolve first
    * (bounded: ≤ |terms| hash evaluations) so the postings scan
    * carries a STATIC partition filter and reads only those bucket
    * directories; df comes from the pruned postings; the 1-row stats
    * table broadcasts; scoring is the shared [[bm25Contrib]]
    * expression and the same heap-limited tail. This is what a
    * retrieval tier runs per query batch; `tx_bm25` is the index-less
    * pipeline run end-to-end. (Defined AFTER [[bm25]]: the oracle
    * reuses its string — object-init order matters for interpolated
    * vals.)
    */
  /** The ONE probe kernel against a persisted text index: resolve the
    * query terms' buckets (bounded: ≤ |terms| hash evaluations) so the
    * postings scan carries a STATIC partition filter, recompute df
    * from the pruned postings, broadcast the 1-row stats, score with
    * the shared [[bm25Contrib]], heap-limited tail. Shared by
    * `tx_bm25_probe` (probe after build) and `tx_index_upsert` (probe
    * after incremental maintenance) so the two serving paths cannot
    * drift.
    */
  private[graft] def probeTextIndex(s: SparkSession, idx: String): DataFrame = {
    import s.implicits._
    val qTerms = Seq("join", "vector", "window", "stream")
    val bkts = qTerms.toDF("term")
      .select(pmod(hash(col("term")), lit(TextIndexBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    val posts = graft.Tables.readPq(s, s"$idx/postings")
      .filter(col("bkt").isin(bkts.map(Integer.valueOf): _*))
      .filter(col("term").isin(qTerms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val dfT = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = graft.Tables.readPq(s, s"$idx/stats")
      .select(col("n_docs"), col("avgdl"))
    posts.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(bm25Contrib), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(25)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("rk"), col("doc_id"), col("bm25"))
      .orderBy(col("rk"))
  }

  val bm25Probe = Query(
    "tx_bm25_probe",
    (s, dir) => probeTextIndex(s, buildTextIndex(s, dir)),
    // the persisted index encodes the same corpus, statistics, and
    // scoring formula, so the index-less oracle applies verbatim
    oracle = bm25.oracle,
  )

  /** Incremental maintenance for the PERSISTED inverted index — the
    * sparse twin of `Maintenance.upsertIvfIndex`: a retrieval tier
    * re-ingests documents daily, and rebuilding the postings from
    * scratch per batch is O(corpus); this is O(batch + touched
    * buckets). MERGE semantics: a batch doc's postings REPLACE its
    * existing ones, new docs append; duplicate doc_ids in one batch
    * fail loudly; docs that tokenize empty are not indexed (the build's
    * own rule — deletions are the purge tier's job, not the indexer's).
    *
    * The postings commit through the docmap's route protocol
    * ([[graft.operators.KeyRouting.mergeThrough]]: route add → one
    * dynamic-overwrite commit over exactly the touched term buckets,
    * the batch's own plus every bucket holding a replaced doc's
    * postings → route settle), so untouched bucket directories keep
    * their files byte-identical. The stats then RECOMPUTE from the
    * batch docs' docmap buckets ([[refreshDocStats]]; never delta
    * arithmetic, which a crash between the commit and the stats swap
    * would lose), and the [[statsPending]] marker brackets the whole
    * pass, so a crash anywhere inside it re-applies. A probe after any
    * upsert chain equals a from-scratch rebuild bit-for-bit
    * (TextIndexUpsertSpec pins it). Returns the touched bucket ids
    * (sorted).
    */
  def upsertTextIndex(s: SparkSession, idx: String,
      batch: DataFrame): Seq[Int] = {
    requireTextIndex(s, idx)
    // read by the key check, the postings merge and the stats buckets
    val d = batch.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0).persist()
    try {
      graft.operators.Maintenance.requireUniqueKeys(d, "doc_id",
        "upsertTextIndex")
      setStatsPending(s, idx, on = true)
      val route = docRoute(idx)
      val touched = route.mergeThrough(s, s"$idx/postings", postingsOf(d))
      refreshDocStats(s, idx, route.bucketsOf(s, d.select(col("doc_id"))))
      setStatsPending(s, idx, on = false)
      // swapped directories keep their paths — drop any cached file
      // listings so later reads can't resolve to replaced files
      s.catalog.refreshByPath(idx)
      touched
    } finally d.unpersist()
  }

  private def requireTextIndex(s: SparkSession, idx: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$idx/postings")
    require(p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p),
      s"no text index at $idx — build it first")
  }

  /** The maintenance demo behind `tx_index_upsert`: a base index built
    * (and atomically published, once per corpus generation) over the
    * corpus MINUS the doc_id % 5 == 0 slice, then an idempotent upsert
    * of that slice as the "nightly batch" — plus the doc_id % 10 == 1
    * docs already in the base, exercising the REPLACE path. The final
    * index state is exactly the full corpus, which is what makes the
    * row oracle-gateable against tx_bm25's index-less pipeline.
    */
  private def upsertDemoIndex(s: SparkSession, dir: String): String =
    synchronized {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val batch =
        docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 10 === 1)
      // apply the nightly batch once per corpus generation: when the
      // batch's new slice is already in the postings the MERGE would
      // be a (correct but costly) no-op — a serving tier probes an
      // up-to-date index, it does not re-run last night's ingest per
      // query. MERGE idempotence itself is TextIndexUpsertSpec's pin.
      // A live [[statsPending]] marker overrides "applied": a crashed
      // pass may have committed the postings but died before the
      // docmap settle / stats refresh, and only the re-apply heals
      // those tails. The presence read prunes through the docmap.
      // r16 marker fast path: steady-state re-entry is one file stat;
      // the no-marker path keeps the stats-pending + presence guard
      // (a crashed pass may have committed postings but died before
      // the stats settle — only the re-apply heals those tails, and
      // the marker stamps only AFTER the settle completed).
      graft.core.IndexDirs.maintainOnce(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", "graft_text_upsert", "_upsert_applied")(
        tmp => writeTextIndex(s, docs.filter(col("doc_id") % 5 =!= 0), tmp))(
        idx => statsPending(s, idx) ||
          docRoute(idx).dataOf(s, s"$idx/postings",
              batch.select(col("doc_id")).filter(col("doc_id") % 5 === 0))
            .limit(1).collect().isEmpty)(
        idx => upsertTextIndex(s, idx, batch))
    }

  /** Sparse-index MAINTENANCE under the gate — `Maintenance
    * .upsertIvfIndex`'s discipline for the inverted index: the row
    * probes the index AFTER a base-build + nightly-batch upsert
    * (append path: the held-out 20 % slice; replace path: unchanged
    * re-ingests), and the oracle is tx_bm25's VERBATIM — the
    * probe-after-upsert must equal the index-less pipeline over the
    * full corpus, which it can only do if the merge, the bucket
    * routing, and the exact-integer stats refresh are all right.
    */
  val indexUpsert = Query(
    "tx_index_upsert",
    (s, dir) => probeTextIndex(s, upsertDemoIndex(s, dir)),
    oracle = bm25.oracle,
  )

  /** Stats-derivation audit (r16) — the gated face of the
    * recompute-from-data stats architecture: after the upsert demo's
    * base-build + nightly batch (final corpus = the full documents),
    * the serving stats pair AND the per-bucket dstats rows it was
    * summed from must equal a from-scratch recount of the corpus —
    * n_docs twice (global table and dstats sum: a bucket row gone
    * missing splits them), exact integer sum_dl, and the avgdl
    * division at the gate's 4-dp rounding. The oracle re-tokenizes
    * in DuckDB, so the row is sensitive to the docmap (dstats
    * derives from it), the refresh's touched-bucket arithmetic, and
    * the pending-marker healing — the whole r16 stats chain, not
    * just the final division.
    */
  val statsAudit = Query(
    "tx_stats_audit",
    (s, dir) => {
      val idx = upsertDemoIndex(s, dir)
      val st = graft.Tables.readPq(s, s"$idx/stats")
      val ds = graft.Tables.readPq(s, s"$idx/dstats")
        .agg(coalesce(sum(col("n_docs")), lit(0L)).cast("long")
          .as("n_docs_dstats"))
      // 1-row × 1-row (the Relational exact-vs-approx precedent) —
      // nothing corpus-sized on either side
      st.select(col("n_docs"), round(col("avgdl"), 4).as("avgdl_r"),
          col("sum_dl"))
        .crossJoin(ds)
    },
    oracle = Some("""
      WITH d AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), nz AS (SELECT doc_id, len(t) AS dl FROM d WHERE len(t) > 0)
      SELECT count(*) AS n_docs, round(avg(dl), 4) AS avgdl_r,
             sum(dl)::BIGINT AS sum_dl, count(*) AS n_docs_dstats
      FROM nz
    """),
  )

  /** Purge propagation into the persisted inverted index — the DELETE
    * twin of [[upsertTextIndex]], closing the r11 gap: `dd_purge_apply`
    * cleans the LAKE, but a probe against an unmaintained index still
    * scores (and can return) the purged docs. Semantics = a
    * from-scratch [[writeTextIndex]] over the surviving corpus: the
    * purged docs' postings leave their buckets through the docmap's
    * route protocol ([[graft.operators.KeyRouting.deleteThrough]]: one
    * dynamic-overwrite commit over the buckets the docmap names, then
    * the route drop), and the stats RECOMPUTE from the purge list's
    * docmap buckets ([[refreshDocStats]]). The [[statsPending]] marker
    * brackets the pass and every step runs unconditionally, so a
    * re-apply heals a crashed run whose postings commit landed but
    * whose tails died. Ids with no postings (never indexed, or
    * zero-token docs) are the documented no-op. Returns the touched
    * bucket ids (sorted).
    */
  def deleteFromTextIndex(s: SparkSession, idx: String,
      purge0: DataFrame): Seq[Int] = {
    requireTextIndex(s, idx)
    val purge = purge0.select(col("doc_id"))
    setStatsPending(s, idx, on = true)
    val route = docRoute(idx)
    val touched = route.deleteThrough(s, s"$idx/postings", purge)
    refreshDocStats(s, idx, route.bucketsOf(s, purge))
    setStatsPending(s, idx, on = false)
    s.catalog.refreshByPath(idx)
    touched
  }

  /** The purge-propagation demo behind `tx_index_delete`: its OWN index
    * family (deletion mutates the index), built over the full corpus,
    * then the dedup tier's deletion list — the SAME
    * [[graft.dedup.DedupQueries.textPurgeIds]] list `dd_purge_apply`
    * executes against the lake — propagated once per corpus generation.
    * A `_purge_applied` marker records the completed propagation so
    * re-runs skip without RE-DERIVING the purge list (the cluster
    * chain costs more than the probe; an applied deletion is durable
    * and its application is recorded). Without the marker the list is
    * derived and collected ONCE into a driver-local frame, which the
    * guard, the delete and its stats refresh all read for free. Crash
    * between the delete and the marker: the re-run re-derives the list
    * once, finds no docmap pair left, and writes the marker.
    */
  private def deleteDemoIndex(s: SparkSession, dir: String): String =
    synchronized {
      // derived only when the marker is absent
      lazy val purge = {
        val ids = graft.dedup.DedupQueries.textPurgeIds(s, dir)
          .select(col("doc_id"))
        s.createDataFrame(ids.collectAsList(), ids.schema) // bounded: the purge list
      }
      graft.core.IndexDirs.maintainOnce(s.sparkContext.hadoopConfiguration,
          dir, "documents.parquet", "graft_text_delete", "_purge_applied")(
        tmp => writeTextIndex(s, Tables(s, dir).documents, tmp))(
        // pending = a purged doc's docmap pair survives (the docmap
        // never under-reports, so this covers purged postings still on
        // disk), or a live stats-pending marker — either means a
        // crashed pass left tails only the re-apply heals
        idx => statsPending(s, idx) ||
          docRoute(idx).lookup(s, purge).limit(1).collect().nonEmpty)(
        idx => deleteFromTextIndex(s, idx, purge))
    }

  /** Purge propagation under the gate — the serving-tier invariant the
    * r11 verdict ranked first: after the dedup purge, a BM25 probe of
    * the inverted index must behave as if the index were REBUILT over
    * the surviving corpus. The oracle recomputes the index-less BM25
    * pipeline over documents MINUS the purge list (the same recursive
    * cluster chain `dd_purge_apply` gates on) — n_docs and avgdl enter
    * every score, so the row is sensitive to the stats recompute, not
    * just to the postings anti-join.
    */
  val indexDelete = Query(
    "tx_index_delete",
    (s, dir) => probeTextIndex(s, deleteDemoIndex(s, dir)),
    oracle = Some(s"""
      WITH RECURSIVE ${graft.dedup.DedupQueries.textClusterCtes},
      ${graft.dedup.DedupQueries.textPurgedCte},
      survivors AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM purged)
      ),
      ${bm25ScoredSqlFrom("survivors")}
      SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk,
             doc_id, bm25
      FROM scored ORDER BY bm25 DESC, doc_id LIMIT 25
    """),
  )

  /** Bigram language-model scoring — the KenLM-style perplexity
    * quality filter every pretraining pipeline runs (docs whose tokens
    * surprise a corpus-trained n-gram model are boilerplate, OCR noise,
    * or the wrong language). The model is trained ON the corpus in the
    * same job: bigram counts + left-context counts + vocabulary size,
    * add-one smoothed — p(w₂|w₁) = (c(w₁w₂) + 1)/(c(w₁·) + V) — and
    * each document scores the mean log-probability of its own bigrams.
    *
    * Shape: two aggregations over one bigram explode (per-doc-bigram
    * tf, then corpus counts from a re-aggregation of the SMALL per-doc
    * table — never a second corpus scan), one join back on the bigram
    * key. The model table is bounded by the corpus's distinct-bigram
    * count; the join is a plain shuffle join that AQE broadcasts when
    * the model fits (it does here) — at 100 TB web scale the model
    * side is still ~10⁸ rows ≪ corpus tokens, and the join stays
    * key-partitioned with no skew (bigram keys are near-uniform).
    * Left-context counts derive from the bigram table itself
    * (c(w₁·) = Σ_w₂ c(w₁w₂)) so the two marginals cannot disagree.
    */
  /** The per-doc LM scoring kernel (doc_id, n_bigrams, avg_logp@4dp),
    * shared by `tx_lm_score` and the CCNet-style `tx_ppl_buckets` —
    * one definition so the filter and its bucketing view cannot drift.
    */
  private[graft] def lmScored(s: SparkSession, dir: String): DataFrame = {
    val d = graft.core.Par
      .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), toks(col("text")).as("t"))
    // r16: the aggregated per-doc bigram table is checkpointed ONCE
    // and the model derives FROM it — exactly the oracle's own CTE
    // chain (its `model` selects from `bg`). Before, `d` fed three
    // lazy branches and the corpus scan + tokenize + explode planned
    // three times; checkpointing `d` itself was measured WORSE (the
    // token arrays (de)serialize 3×), while docBigrams is the narrow
    // post-shuffle table the scoring join re-reads anyway.
    val docBigrams = d.filter(size(col("t")) >= 2)
      .select(col("doc_id"), (size(col("t")) - 1).as("n_bigrams"),
        explode(expr(
          "transform(sequence(0, size(t) - 2)," +
            " i -> concat(t[i], ' ', t[i + 1]))")).as("bg"))
      .groupBy(col("doc_id"), col("n_bigrams"), col("bg"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint()
    // Model shave (r11 ask #3, A/B-measured −25% on the kernel), now
    // re-aggregating the CHECKPOINTED per-doc table: Σ_docs per-doc
    // count = instance count, so cb is integer-identical to the
    // instance-level aggregation this replaces (which re-tokenized and
    // re-exploded the corpus — the checkpoint makes the re-aggregation
    // a narrow block read). w1 = the bigram's first token (tokens are
    // whitespace-split, so the first ' ' is the separator — the
    // oracle's split_part(bg, ' ', 1)). The left-context marginal
    // c(w1·) stays a WINDOW over the aggregated model rows. Skew note:
    // the window partitions by w1 over DISTINCT-bigram rows, so a
    // stopword's group is bounded by its distinct successors
    // (≤ vocabulary), never by corpus instances. (A single-exchange
    // variant shuffling raw instances BY w1 measured −20% here in r11
    // but concentrates a stopword's full instance volume in one
    // partition at web scale — still rejected as a 100 TB straggler.)
    val model = docBigrams
      .groupBy(col("bg"))
      .agg(sum(col("k")).as("cb"))
      .withColumn("cl", sum(col("cb")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(substring_index(col("bg"), " ", 1))))
    val voc = d.select(explode(col("t")).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    val logp = log((col("cb") + 1.0) / (col("cl") + col("v")))
    docBigrams
      .join(model.select(col("bg"), col("cb"), col("cl")), "bg")
      .crossJoin(broadcast(voc))
      .groupBy(col("doc_id"), col("n_bigrams"))
      .agg(sum(col("k") * logp).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("slp") / col("n_bigrams"), 4).as("avg_logp"))
  }

  /** The DuckDB mirror of [[lmScored]], ending in a `scored` CTE with
    * (doc_id, n_bigrams, avg_logp) — consumed by the tx_lm_score and
    * tx_ppl_buckets oracles (the bm25ScoredSql precedent).
    */
  private[graft] val lmScoredSql: String = """d AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), bg AS (
        SELECT doc_id, n_bigrams, bg, count(*) AS k
        FROM (SELECT doc_id, len(t) - 1 AS n_bigrams,
                unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i + 1])) AS bg
              FROM d WHERE len(t) >= 2)
        GROUP BY 1, 2, 3
      ), model AS (
        SELECT bg, sum(k) AS cb, split_part(bg, ' ', 1) AS w1
        FROM bg GROUP BY bg
      ), lft AS (SELECT w1, sum(cb) AS cl FROM model GROUP BY 1),
      voc AS (
        SELECT count(DISTINCT term) AS v
        FROM (SELECT unnest(t) AS term FROM d)
      ), scored AS (
        SELECT doc_id, n_bigrams,
          round(sum(k * ln((cb + 1.0) / (cl + v))) / n_bigrams, 4) AS avg_logp
        FROM bg
          JOIN (SELECT m.bg, m.cb, l.cl FROM model m JOIN lft l USING (w1)) mm
            USING (bg)
          CROSS JOIN voc
        GROUP BY doc_id, n_bigrams
      )"""

  val lmScore = Query(
    "tx_lm_score",
    (s, dir) => lmScored(s, dir).orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH $lmScoredSql
      SELECT doc_id, n_bigrams, avg_logp FROM scored ORDER BY doc_id
    """),
  )

  /** HELD-OUT perplexity — the leakage-free eval next to [[lmScore]]'s
    * in-corpus filter: [[lmScored]] trains on the full corpus and
    * scores the same docs (fine as a per-doc fluency FILTER, biased as
    * an EVAL), whereas this trains a TRIGRAM model on `tx_split`'s
    * TRAIN split only (one split definition — the same salted-md5
    * bucket rule, so eval docs can never leak into the model) and
    * scores the TEST split with add-one smoothing:
    * P(w3|w1w2) = (c(w1w2w3)+1)/(c(w1w2·)+V), V = the train
    * vocabulary. Trigrams, not bigrams, ON PURPOSE: the eval's whole
    * point is scoring what training never saw, and this corpus's
    * bigram space is fully covered by the 95 % train split (probed:
    * 0 OOV bigrams at every SF) while trigrams leave genuine unseen
    * mass everywhere (172/669 test trigrams at sf0.001, 5/6439 at
    * sf0.1) — a LEFT join keeps those rows where an inner join would
    * silently drop them, and `oov_trigrams` reports each doc's unseen
    * mass.
    *
    * Shape: the lmScored dataflow at order 3 with the split predicate
    * pushed into each leg — model/context/vocab aggregate over
    * train-bucket rows, scoring explodes only test-bucket docs (2 % of
    * the corpus), so the score-side join input is eval-sized.
    */
  val lmHoldout = Query(
    "tx_lm_holdout",
    (s, dir) => {
      val b = conv(
        substring(md5(concat(lit("split1:"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 100
      val d = graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), toks(col("text")).as("t"), b.as("b"))
      val docTrigrams = d.filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("b"),
          (size(col("t")) - 2).cast("long").as("n_trigrams"),
          explode(expr(
            "transform(sequence(0, size(t) - 3)," +
              " i -> struct(concat(t[i], ' ', t[i + 1]) AS ctx," +
              "             concat(t[i], ' ', t[i + 1], ' ', t[i + 2]) AS g))"))
            .as("tg"))
        .select(col("doc_id"), col("b"), col("n_trigrams"),
          col("tg.ctx").as("ctx"), col("tg.g").as("g"))
        .groupBy(col("doc_id"), col("b"), col("n_trigrams"), col("ctx"),
          col("g"))
        .agg(count(lit(1)).as("k"))
      val model = docTrigrams.filter(col("b") >= 5)
        .groupBy(col("ctx"), col("g")).agg(sum(col("k")).as("cb"))
      val leftCtx = model.groupBy(col("ctx")).agg(sum(col("cb")).as("cl"))
      val voc = d.filter(col("b") >= 5)
        .select(explode(col("t")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      val test = docTrigrams.filter(col("b") < 2)
      val logp = log((coalesce(col("cb"), lit(0L)) + 1.0) /
        (coalesce(col("cl"), lit(0L)) + col("v")))
      test
        .join(model.select(col("g"), col("cb")), Seq("g"), "left")
        .join(leftCtx, Seq("ctx"), "left")
        .crossJoin(broadcast(voc))
        .groupBy(col("doc_id"), col("n_trigrams"))
        .agg(
          sum(when(col("cb").isNull, col("k")).otherwise(0L))
            .cast("long").as("oov_trigrams"),
          sum(col("k") * logp).as("slp"))
        .select(col("doc_id"), col("n_trigrams"), col("oov_trigrams"),
          round(col("slp") / col("n_trigrams"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH d AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t,
          ('0x' || substr(md5('split1:' || doc_id::VARCHAR), 1, 8))::BIGINT
            % 100 AS b
        FROM documents
      ), tg AS (
        SELECT doc_id, b, n_trigrams, ctx, g, count(*) AS k
        FROM (SELECT doc_id, b, len(t) - 2 AS n_trigrams,
                unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i + 1])) AS ctx,
                unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
              FROM d WHERE len(t) >= 3)
        GROUP BY 1, 2, 3, 4, 5
      ), model AS (
        SELECT ctx, g, sum(k) AS cb FROM tg WHERE b >= 5 GROUP BY 1, 2
      ), lft AS (SELECT ctx, sum(cb) AS cl FROM model GROUP BY 1),
      voc AS (
        SELECT count(DISTINCT term) AS v
        FROM (SELECT unnest(t) AS term FROM d WHERE b >= 5)
      ), scored AS (
        SELECT t.doc_id, t.n_trigrams,
          sum(CASE WHEN m.cb IS NULL THEN t.k ELSE 0 END)::BIGINT
            AS oov_trigrams,
          round(sum(t.k * ln((coalesce(m.cb, 0) + 1.0)
                             / (coalesce(l.cl, 0) + v))) / t.n_trigrams, 4)
            AS avg_logp
        FROM (SELECT doc_id, n_trigrams, ctx, g, k FROM tg WHERE b < 2) t
          LEFT JOIN (SELECT g, cb FROM model) m USING (g)
          LEFT JOIN lft l USING (ctx)
          CROSS JOIN voc
        GROUP BY t.doc_id, t.n_trigrams
      )
      SELECT doc_id, n_trigrams, oov_trigrams, avg_logp
      FROM scored ORDER BY doc_id
    """),
  )

  /** Shared DuckDB CTE chain retraining the same `bpeRounds` merges
    * UNROLLED (sᵣ₋₁ → pair counts pᵣ → 1-row argmax mᵣ → merged sᵣ);
    * ends at `s$bpeRounds`, the fully-merged vocabulary state the
    * encode/pack oracles join against. The greedy left-to-right merge
    * application is a `list_reduce` fold into an RS-delimited string
    * (DuckDB's reduce accumulator must be element-typed): append
    * `RS‖x` normally; when the LAST element equals l and x = r,
    * replace it with l‖r. Safe because symbols are
    * regexp_extract_all chars/concats — never containing the RS
    * separator (chr(30)).
    */
  private def bpeChainCtes: String = {
    val rs = "chr(30)"
    def mergeFold(prev: String, m: String) =
      s"""string_split(list_reduce(syms, (acc, x) -> CASE
            WHEN acc = $m.lhs AND x = $m.rhs THEN $m.lhs || $m.rhs
            WHEN ends_with(acc, $rs || $m.lhs) AND x = $m.rhs
              THEN left(acc, length(acc) - length($m.lhs)) || $m.lhs || $m.rhs
            ELSE acc || $rs || x END), $rs)"""
    val rounds = (1 to bpeRounds).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS (
        SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(freq)::BIGINT AS cnt
        FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM $prev)
        GROUP BY 1, 2
      ), m$i AS (SELECT lhs, rhs, cnt FROM p$i
                 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      s$i AS (
        SELECT word, freq, ${mergeFold(prev, s"m$i")} AS syms
        FROM $prev CROSS JOIN m$i
      )"""
    }.mkString(",\n")
    s"""w AS (
        SELECT word, count(*)::BIGINT AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                x -> length(x) > 0)) AS word
              FROM documents)
        GROUP BY 1
      ), s0 AS (SELECT word, freq, regexp_extract_all(word, '[^\n\r]') AS syms
                FROM w),
      $rounds"""
  }

  /** DuckDB side of [[bpeTrain]]: the merge table read off the chain. */
  private def bpeOracleSql: String = {
    val out = (1 to bpeRounds).map { i =>
      s"""SELECT $i AS round, lhs, rhs, cnt,
            (SELECT sum(freq * len(syms))::BIGINT FROM s$i) AS tokens_after
          FROM m$i"""
    }.mkString("\nUNION ALL\n")
    s"""
      WITH $bpeChainCtes
      $out
      ORDER BY round
    """
  }

  /** REAL BPE tokenizer training — not [[bpeTokens]]' counting
    * heuristic but the iterative merge-learning loop itself (Sennrich
    * et al., ACL'16): split every word into characters, then
    * repeatedly count adjacent symbol pairs (frequency-weighted) and
    * merge the most frequent pair everywhere, greedy left-to-right.
    * Output: the learned merge table — (round, pair, count) plus the
    * corpus token count after each merge. Pair counts include
    * OVERLAPS (a k-run of a symbol counts k−1 pairs but greedily
    * merges only ⌊k/2⌋ times), so the per-round drop in tokens_after
    * is bounded by [cnt/2, cnt], not equal to cnt — BpeTrainSpec
    * asserts the bounds and replays the whole loop brute-force.
    *
    * Scale shape — why this trains at 100 TB: the corpus is touched
    * ONCE (the word-frequency aggregation); every merge round then
    * operates on the VOCABULARY table (words × freq × symbols), which
    * is orders of magnitude smaller than the corpus — exactly how
    * production BPE trainers structure the loop. Per round: one pair
    * aggregation over the vocab (map-side combinable), a 1-ROW argmax
    * collect (the rank-method driver-protocol class), and a codegen'd
    * fold rewriting each word's symbols. `localCheckpoint` truncates
    * the lineage each round (the standard iterative-algorithm
    * pattern), so round r never recomputes rounds 1..r−1. Driver
    * state: `bpeRounds` merge rows. The final DataFrame is assembled
    * from those rows, so the audited distributed shape is declared
    * via `eagerPlan` (the round-1 pair-count pipeline over the real
    * scan), like the other driver-coordinated protocols.
    *
    * ASCII-corpus assumption (tie-breaks + vocab ids): the per-round
    * argmax breaks count ties on (lhs, rhs) string order, and
    * [[bpeEncode]] ranks the vocab alphabet by symbol order. Three
    * orderings must agree for the gate and specs to hold: Spark's
    * UTF8String binary (= UTF-8 byte = codepoint) order, DuckDB's
    * default binary varchar collation, and the test reference's Java
    * `compareTo` (UTF-16 code units). They coincide on ASCII but
    * diverge above the BMP; the test corpus is verified pure ASCII.
    * A non-ASCII deployment must switch both tie-breaks to an
    * engine-neutral key (codepoint list) first.
    */
  /** SQL single-quoted string literal (Spark expr dialect). */
  private def sqLit(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** ONE greedy left-to-right merge (l,r)→l‖r applied to an
    * array<string> symbols expression, as a codegen'd `aggregate`
    * fold — shared by the train loop (one level per round, applied to
    * the vocab column) and [[encodeExpr]] (all trained merges nested
    * in training order). Lambda variables carry the nesting level so
    * inner folds never shadow outer ones.
    */
  private def mergeFoldExpr(inner: String, l: String, r: String,
      lvl: Int): String = {
    val a = s"acc$lvl"; val x = s"x$lvl"
    s"""aggregate($inner, cast(array() as array<string>),
        ($a, $x) -> CASE
          WHEN size($a) > 0 AND element_at($a, -1) = ${sqLit(l)}
               AND $x = ${sqLit(r)}
            THEN concat(slice($a, 1, size($a) - 1),
                        array(${sqLit(l + r)}))
          ELSE concat($a, array($x)) END)"""
  }

  /** Greedy BPE encode of column `word` through the trained merge
    * list, in training order, as one nested fold expression — the
    * APPLY half of the tokenizer. At gate scale (`bpeRounds` merges)
    * the nesting is trivially codegen-able; a production ~50k-merge
    * tokenizer swaps this for a broadcast merge-rank map driving one
    * iterative fold — the dataflow around it (encode DISTINCT words
    * once, join counts back) is unchanged.
    */
  private def encodeExpr(merges: Seq[(String, String)]): String =
    merges.zipWithIndex.foldLeft(
      "regexp_extract_all(word, '[^\\n\\r]', 0)") {
      case (acc, ((l, r), i)) => mergeFoldExpr(acc, l, r, i)
    }

  /** Per-corpus memo of the trained merge table: the tokenizer is an
    * ARTIFACT — a pipeline trains it once and every consumer (encode,
    * pack, the report itself) reuses it, exactly the persisted-index
    * contract `buildIvfIndex` makes for centroids. Keyed by data dir
    * (immutable per driver contract); the entry is `bpeRounds` rows,
    * so the cache is bounded by the number of distinct corpora a
    * process touches.
    */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[(Int, String, String, Long, Long)]]()

  /** The training loop itself — the driver-coordinated protocol shared
    * by [[bpeTrain]] (which reports the merge table) and the encode/
    * pack consumers (which apply it). Returns `bpeRounds` rows of
    * (round, lhs, rhs, pair count, corpus tokens after the merge);
    * driver state is exactly those rows. See [[bpeTrain]] for the
    * scale argument.
    */
  private[text] def trainBpeMerges(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long, Long)] =
    bpeMergeCache.computeIfAbsent(dir, _ => trainBpeMergesUncached(s, dir))

  private def trainBpeMergesUncached(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long, Long)] = {
    import org.apache.spark.sql.DataFrame
    val words = graft.core.Par
      .spreadBy(Tables(s, dir).documents.select(col("text")), col("text"))
      .select(explode(toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var state: DataFrame = words
      .withColumn("syms", expr("regexp_extract_all(word, '[^\\n\\r]', 0)"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var round = 1
    while (round <= bpeRounds) {
      val best = state.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS lhs, syms[i + 1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      require(best.nonEmpty, "corpus exhausted before bpeRounds merges")
      val (l, r, cnt) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      state = state
        .withColumn("syms", expr(mergeFoldExpr("syms", l, r, 0)))
        .localCheckpoint(true)
      val tokensAfter = state
        .agg(sum(col("freq") * size(col("syms")))).head().getLong(0)
      merges += ((round, l, r, cnt, tokensAfter))
      round += 1
    }
    merges.toSeq
  }

  val bpeTrain = Query(
    "tx_bpe_train",
    (s, dir) => {
      import s.implicits._
      trainBpeMerges(s, dir)
        .toDF("round", "lhs", "rhs", "cnt", "tokens_after")
        .orderBy(col("round"))
    },
    oracle = Some(bpeOracleSql),
    eagerPlan = Some((s, dir) =>
      Tables(s, dir).documents
        .select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .withColumn("syms", expr("regexp_extract_all(word, '[^\\n\\r]', 0)"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS lhs, syms[i + 1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))),
  )

  /** DuckDB side of [[bpeEncode]]: retrain via the shared CTE chain,
    * read the final symbolization off `s$bpeRounds`, rank the vocab
    * alphabet, and aggregate per document.
    */
  private def bpeEncodeOracleSql: String = s"""
      WITH $bpeChainCtes,
      wsym AS (SELECT word, unnest(syms) AS sym FROM s$bpeRounds),
      vocab AS (
        SELECT sym, row_number() OVER (ORDER BY sym) AS tid
        FROM (SELECT DISTINCT sym FROM wsym)
      ),
      wid AS (
        SELECT word, count(*)::BIGINT AS n_toks, sum(tid)::BIGINT AS id_sum
        FROM wsym JOIN vocab USING (sym) GROUP BY word
      ),
      occ AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                 x -> length(x) > 0)) AS word
        FROM documents
      ),
      agg AS (
        SELECT doc_id, count(*)::BIGINT AS n_ws_tokens,
               sum(n_toks)::BIGINT AS n_bpe_tokens,
               sum(id_sum)::BIGINT AS token_id_sum
        FROM occ JOIN wid USING (word) GROUP BY doc_id
      )
      SELECT doc_id, n_ws_tokens, n_bpe_tokens,
             round(n_bpe_tokens::DOUBLE / n_ws_tokens, 4) AS compression,
             token_id_sum
      FROM agg ORDER BY doc_id
    """

  /** The ENCODE pass of the trained tokenizer — the middle link of the
    * train→encode→pack loop a pretraining pipeline runs: apply
    * [[bpeTrain]]'s learned merges (greedy left-to-right, training
    * order) to every document, assign each final symbol its vocab id
    * (1-based rank in the symbol alphabet — see the ASCII note on
    * [[bpeTrain]]), and report per document the whitespace token
    * count, the BPE token count, their ratio, and the token-id sum
    * (a value-sensitive checksum of the actual id sequence, so the
    * gate pins the ENCODING, not just its length).
    *
    * Scale shape — why this encodes at 100 TB: the corpus is touched
    * ONCE (the per-(doc, word) count aggregation, map-side
    * combinable); the merge folds then run over the DISTINCT-WORD
    * table (vocabulary-sized, orders of magnitude smaller), exactly
    * how production tokenizers batch-encode — no document is ever
    * re-walked per merge. The trained merge list is a bounded driver
    * artifact (`bpeRounds` rows here, ~50k in production — the same
    * broadcast contract as the decontamination gram set); the vocab-id
    * ranking window runs on the MODEL-sized alphabet (base chars + one
    * new symbol per merge), bounded by construction. Per-doc results
    * come from joining word counts back to the encoded vocab — one
    * vocabulary-keyed shuffle, no corpus-sized sort anywhere.
    */
  /** The per-doc result of the trained tokenizer's encode pass
    * (doc_id, n_ws_tokens, n_bpe_tokens, token_id_sum) — shared by
    * `tx_bpe_encode` and the per-language `tx_tokenizer_eval` rollup,
    * one definition so the encode semantics cannot drift.
    */
  private[graft] def bpeEncodedDocs(s: SparkSession, dir: String,
      checkpoint: Boolean = true): DataFrame = {
    val merges = trainBpeMerges(s, dir).map(m => (m._2, m._3))
    // The (doc, word) count table fed BOTH the distinct-word encode
    // branch AND the final join-back, and the encoded word table fed
    // the vocab ranking AND the id-sum rollup — as lazy subtrees the
    // corpus tokenize+aggregate planned THREE times and the merge fold
    // twice (r16; 8 scans / 22 Exchanges in the tx_tokenizer_eval
    // plan). Checkpoint each once: occ is the aggregated token-count
    // table (far smaller than raw text — exactly what a production
    // tokenizer materializes), encoded is vocabulary-sized.
    // `checkpoint = false` is the audit seam: the same pipeline left
    // lazy end-to-end, so the plan lints see the real distributed
    // shape (eagerPlan on `tx_bpe_encode`).
    def ck(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint() else df
    val occ = ck(graft.core.Par
      .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt")))
    val encoded = ck(occ.select(col("word")).distinct()
      .withColumn("syms", expr(encodeExpr(merges))))
    // tokenizer vocab ids: 1-based byte-order rank over the final
    // symbol alphabet — MODEL-sized by construction (base chars +
    // bpeRounds new symbols), the same bounded-artifact contract as
    // the centroid collects, so rank it on the driver (r16: this
    // replaces an unpartitioned window + a vocab-keyed join with a
    // literal-map lookup). UTF-8 byte order = Spark UTF8String order =
    // DuckDB binary collation; JVM String order differs past ASCII.
    val alphabet = encoded.select(explode(col("syms")).as("sym"))
      .distinct().collect().map(_.getString(0))
    val tidOf: Map[String, Long] = alphabet
      .sortWith { (a, b) =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      }
      .zipWithIndex.map { case (sym, i) => sym -> (i + 1L) }.toMap
    val wid = encoded.select(col("word"),
      size(col("syms")).cast("long").as("n_toks"),
      aggregate(transform(col("syms"),
          sym => element_at(typedlit(tidOf), sym)),
        lit(0L), (acc, x) => acc + x).as("id_sum"))
    occ.join(wid, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ws_tokens"),
        sum(col("cnt") * col("n_toks")).as("n_bpe_tokens"),
        sum(col("cnt") * col("id_sum")).as("token_id_sum"))
  }

  val bpeEncode = Query(
    "tx_bpe_encode",
    (s, dir) => {
      bpeEncodedDocs(s, dir)
        .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 4)
            .as("compression"),
          col("token_id_sum"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(bpeEncodeOracleSql),
    // the serving path checkpoints its two shared intermediates, so the
    // run-result plan bottoms out in ExistingRDD scans; the audit seam
    // is the SAME pipeline left lazy end-to-end (checkpoint = false)
    eagerPlan = Some((s, dir) =>
      bpeEncodedDocs(s, dir, checkpoint = false)
        .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 4)
            .as("compression"),
          col("token_id_sum"))
        .orderBy(col("doc_id"))),
  )

  /** Tokenizer EVALUATION — the per-language scorecard a tokenizer
    * ships with (the metric multilingual tokenizer work optimizes):
    * fertility (BPE tokens per whitespace word — high fertility means
    * the language pays more sequence length per word) and characters
    * per BPE token (compression), per language, from the trained
    * tokenizer's own encode pass ([[bpeEncodedDocs]], shared code).
    * All sums are exact integers (token counts, char counts); the two
    * ratios are single divisions at the end, so the gate is exact.
    * Shape: the encode pass's vocabulary-keyed shuffles + one
    * (langs)-row rollup after a doc_id equi-join for lang/n_chars.
    */
  val tokenizerEval = Query(
    "tx_tokenizer_eval",
    (s, dir) => {
      bpeEncodedDocs(s, dir)
        .join(Tables(s, dir).documents
          .select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws_tokens")).as("ws_tokens"),
          sum(col("n_bpe_tokens")).as("bpe_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"),
          round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("bpe_tokens"), 4)
            .as("chars_per_token"))
        .orderBy(col("lang"))
    },
    oracle = Some(s"""
      WITH $bpeChainCtes,
      wsym AS (SELECT word, unnest(syms) AS sym FROM s$bpeRounds),
      wid AS (
        SELECT word, count(*)::BIGINT AS n_toks
        FROM wsym GROUP BY word
      ),
      occ AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                 x -> length(x) > 0)) AS word
        FROM documents
      ),
      per_doc AS (
        SELECT doc_id, count(*)::BIGINT AS n_ws,
               sum(n_toks)::BIGINT AS n_bpe
        FROM occ JOIN wid USING (word) GROUP BY doc_id
      )
      SELECT d.lang, count(*)::BIGINT AS n_docs,
             sum(p.n_ws)::BIGINT AS ws_tokens,
             sum(p.n_bpe)::BIGINT AS bpe_tokens,
             round(sum(p.n_bpe)::DOUBLE / sum(p.n_ws), 4) AS fertility,
             round(sum(d.n_chars)::DOUBLE / sum(p.n_bpe), 4)
               AS chars_per_token
      FROM per_doc p JOIN documents d USING (doc_id)
      GROUP BY d.lang ORDER BY d.lang
    """),
  )

  /** The tokenizer's VOCAB FILE as a query — the third artifact of the
    * train→encode→pack loop (a shipped tokenizer is exactly this
    * table: symbol ↔ id, plus the corpus statistics a mixing recipe
    * reads): every symbol of the post-training alphabet with its
    * 1-based byte-order id (same contract as [[bpeEncode]]'s ids, see
    * the ASCII note on [[bpeTrain]]), its corpus occurrence count
    * under the final symbolization, its corpus share, and whether it
    * is a LEARNED merge (multi-char) or a base character.
    *
    * Scale shape: the corpus was already reduced to the word-frequency
    * table by the (memoized) train pass; this is one explode of the
    * DISTINCT-WORD table's symbols weighted by word frequency, a
    * vocabulary-keyed aggregation, and bounded model-sized windows —
    * nothing corpus-sized moves.
    */
  val bpeVocab = Query(
    "tx_bpe_vocab",
    (s, dir) => {
      val merges = trainBpeMerges(s, dir).map(m => (m._2, m._3))
      val words = graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("text")), col("text"))
        .select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .withColumn("syms", expr(encodeExpr(merges)))
      val g = words
        .select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy(col("sym"))
        .agg(sum(col("freq")).as("n_tokens"))
      val whole = Window.partitionBy()
      g.withColumn("tid",
          row_number().over(Window.orderBy(col("sym"))).cast("long"))
        .withColumn("total", sum(col("n_tokens")).over(whole))
        .select(col("tid"), col("sym"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("total"), 4).as("share"),
          (length(col("sym")) > 1).as("is_merged"))
        .orderBy(col("tid"))
    },
    oracle = Some(s"""
      WITH $bpeChainCtes,
      wsym AS (SELECT word, freq, unnest(syms) AS sym FROM s$bpeRounds),
      g AS (SELECT sym, sum(freq)::BIGINT AS n_tokens FROM wsym GROUP BY 1),
      v AS (
        SELECT row_number() OVER (ORDER BY sym) AS tid, sym, n_tokens,
               sum(n_tokens) OVER () AS total
        FROM g
      )
      SELECT tid, sym, n_tokens,
             round(n_tokens::DOUBLE / total, 4) AS share,
             length(sym) > 1 AS is_merged
      FROM v ORDER BY tid
    """),
  )

  /** Count-Min point queries — the second sketch family next to
    * [[heavyHitters]]' Space-Saving top-k: d×w counters answer "how
    * often did THIS term occur" in O(d·w) memory regardless of
    * vocabulary, and the sketch is LINEAR so partial sketches
    * cell-wise-add across tasks (the combiner seam ships 4×512 longs
    * per task, never the token stream). The gate follows the
    * q_approx_quantiles contract: the sketch value itself is
    * hash-dependent and cannot cross engines, so the checked output is
    * the GUARANTEE — est ≥ exact (deterministic for a linear sketch)
    * and est ≤ exact + ⌈e·N/w⌉ (the CMS ε-bound; hashes are fixed
    * seeded Murmur3, so for a given corpus it holds reproducibly) —
    * next to the exact counts DuckDB recomputes. The absent probe term
    * pins the absent-key behavior (est collides to ~0, bounds hold).
    */
  val countMin = Query(
    "tx_count_min",
    (s, dir) => {
      val qTerms = Seq("join", "vector", "window", "stream", "customer",
        "zzz_absent")
      val terms = graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(explode(toks(col("text"))).as("term"))
      val agg = terms.agg(
        graft.functions.SketchFunctions
          .countMinEstimates(col("term"), qTerms, 4, 512).as("sk"),
        count(lit(1)).as("n"))
      val exact = terms.filter(col("term").isin(qTerms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("exact"))
      agg.select(explode(col("sk")).as("e"), col("n"))
        .select(col("e.term").as("term"), col("e.est").as("est"), col("n"))
        .join(exact, Seq("term"), "left")
        .na.fill(0, Seq("exact"))
        .select(col("term"), col("exact"),
          (col("est") >= col("exact")).as("lower_ok"),
          // gate bound = 2×⌈εN⌉, NOT the tight ⌈εN⌉: for fixed seeded
          // hashes the 1-row bound holds only w.p. ~1−e⁻⁴ per term over
          // hash choice, so a testdata regeneration could flip the tight
          // check deterministically for one unlucky term even though the
          // sketch is correct. The tight per-term bound is asserted
          // against the CURRENT corpus in SketchSpec — a data refresh
          // fails loudly in tests, not in the cross-engine gate.
          (col("est") <= col("exact") +
            lit(2) * ceil(lit(math.E) * col("n") / 512)).as("upper_ok"))
        .orderBy(col("term"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT unnest(list_filter(string_split(text, ' '),
                 x -> length(x) > 0)) AS term
        FROM documents
      ), e AS (
        SELECT term, count(*)::BIGINT AS exact FROM t
        WHERE term IN ('join', 'vector', 'window', 'stream', 'customer',
                       'zzz_absent')
        GROUP BY 1
      ), q AS (
        SELECT unnest(['join', 'vector', 'window', 'stream', 'customer',
                       'zzz_absent']) AS term
      )
      SELECT q.term, coalesce(e.exact, 0) AS exact,
             true AS lower_ok, true AS upper_ok
      FROM q LEFT JOIN e USING (term) ORDER BY term
    """),
  )

  /** Per-document n-gram novelty — the memorization-risk audit a
    * pretraining pipeline runs next to dedup: what fraction of a
    * document's distinct 8-grams appear in ANY other document. Low
    * novelty means boilerplate/templated text the model will see many
    * times (and may memorize); the same signal, doc-aggregated, is the
    * near-dup detector's raw material — this reports it as a per-doc
    * quality score rather than a drop decision.
    *
    * Shape: one explode of the fused 8-gram hash kernel (distinct
    * per doc by construction), a gram-keyed document-frequency
    * aggregation, and one join back on the gram key — the
    * dd_decontaminate postings shape with the corpus itself as the
    * reference set. All counts integer; the only double is the final
    * per-doc ratio. At 100 TB the df table is gram-cardinality-sized:
    * the production path replaces the exact join with the Bloom
    * screen (`dd_bloom_decontaminate`'s contract) or a Count-Min
    * lower bound — both documented trade-offs of the same plan; the
    * exact form here is what they are audited against.
    */
  val novelty = Query(
    "tx_novelty",
    (s, dir) => {
      val grams = graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          explode(graft.functions.HashFunctions.shingleHash32(col("text"), 8))
            .as("h"))
      val df = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      grams.join(df, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(lit(1) - col("n_shared").cast("double") / col("n_grams"), 4)
            .as("novelty"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), g AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(
            list_transform(range(1, greatest(len(t) - 6, 1)),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                || ' ' || t[i+7]),
            x -> ('0x' || substr(md5(x), 1, 8))::BIGINT))) AS h
        FROM t
      ), dfc AS (SELECT h, count(*) AS df FROM g GROUP BY 1)
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
             round(1 - sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 4) AS novelty
      FROM g JOIN dfc USING (h)
      GROUP BY doc_id ORDER BY doc_id
    """),
  )

  /** The per-source DATASET CARD — the datasheet table a corpus
    * release ships (Gebru et al.'s "Datasheets for Datasets", the
    * summary block of every HF dataset card): for each source, volume
    * (docs, tokens, mean doc length), language spread (distinct langs
    * + the majority language), the quality-gate pass rate (the exact
    * `tx_quality` verdict), and the exact-duplication rate (the
    * `dd_exact` hash discipline). One operator because releases ship
    * ONE table — the composed signals come from the same single scan.
    *
    * Shape: one corpus scan computes the per-doc signals (token
    * count, gate verdict, content hash) map-side; a per-source hash
    * aggregation reduces them (count_distinct over md5 rides the
    * same exchange); the majority language is a (source × lang)
    * aggregate — bounded by catalog size — ranked and joined back
    * broadcast. Every reported ratio divides two exact integers, so
    * the gate cannot flip on summation order.
    */
  val datasetCard = Query(
    "tx_dataset_card",
    (s, dir) => {
      // the card reports the corpus AS INGESTED — including the planted
      // src0 re-ingest (the dd_dup_stats fixture), so the dup_rate
      // column is non-vacuous: src0 reports 0.5, every other source 0
      val docs = Tables(s, dir).documents
        .select(col("source"), col("lang"), col("text"))
      val ingested = docs.unionAll(docs.filter(col("source") === "src0"))
      val perDoc = ingested
        .select(col("source"), col("lang"), md5(col("text")).as("h"),
          toks(col("text")).as("t"))
        .select(col("source"), col("lang"), col("h"),
          size(col("t")).as("n_tokens"),
          round(size(filter(col("t"),
            x => x.isInCollection(stopwords))).cast("double") /
            size(col("t")), 4).as("stop_ratio"))
        .withColumn("keep",
          when(col("n_tokens").between(10, 2000) &&
            col("stop_ratio").between(0.01, 0.6), 1L).otherwise(0L))
      val card = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("keep")).as("n_keep"),
          count_distinct(col("h")).as("n_uniq"))
      val topLang = perDoc.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("ln"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("ln").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      card.join(broadcast(topLang), "source")
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("top_lang"), col("total_tokens"),
          round(col("total_tokens").cast("double") / col("n_docs"), 2)
            .as("avg_doc_tokens"),
          round(col("n_keep").cast("double") / col("n_docs"), 4)
            .as("keep_rate"),
          round(lit(1) - col("n_uniq").cast("double") / col("n_docs"), 4)
            .as("dup_rate"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH ingested AS (
        SELECT source, lang, text FROM documents
        UNION ALL
        SELECT source, lang, text FROM documents WHERE source = 'src0'
      ), t AS (
        SELECT source, lang, md5(text) AS h,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM ingested
      ), m AS (
        SELECT source, lang, h, len(t) AS n_tokens,
          round(CAST(len(list_filter(t,
            x -> x IN ('the','a','and','of','or','is','in'))) AS DOUBLE)
            / len(t), 4) AS stop_ratio
        FROM t
      ), perdoc AS (
        SELECT source, lang, h, n_tokens,
          CASE WHEN n_tokens BETWEEN 10 AND 2000
                AND stop_ratio BETWEEN 0.01 AND 0.6
               THEN 1 ELSE 0 END AS keep
        FROM m
      ), card AS (
        SELECT source, count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               sum(n_tokens)::BIGINT AS total_tokens,
               sum(keep)::BIGINT AS n_keep,
               count(DISTINCT h) AS n_uniq
        FROM perdoc GROUP BY source
      ), toplang AS (
        SELECT source, lang AS top_lang FROM (
          SELECT source, lang,
            row_number() OVER (PARTITION BY source
              ORDER BY count(*) DESC, lang) AS rk
          FROM perdoc GROUP BY source, lang)
        WHERE rk = 1
      )
      SELECT c.source, n_docs, n_langs, top_lang, total_tokens,
             round(total_tokens::DOUBLE / n_docs, 2) AS avg_doc_tokens,
             round(n_keep::DOUBLE / n_docs, 4) AS keep_rate,
             round(1 - n_uniq::DOUBLE / n_docs, 4) AS dup_rate
      FROM card c JOIN toplang tl ON tl.source = c.source
      ORDER BY c.source
    """),
  )

  /** SFT (instruction-tuning) sample assembly: documents rendered into
    * multi-turn chat-template conversations with LOSS-MASK SPANS — the
    * manifest a supervised fine-tune consumes (only assistant spans
    * contribute loss). Each doc becomes a user turn (chars 1–80 of the
    * text as the instruction) and an assistant turn (the remainder as
    * the response, with template markers); consecutive docs of one
    * source pack 3-to-a-conversation. Output is one row per turn with
    * its [seg_start, seg_end) character span inside the rendered
    * conversation — computed as a running sum over the turn lengths,
    * one window per conversation — and the loss_masked flag.
    *
    * Plan: rank-within-source window (the tx_shards exchange), a
    * 2-element explode (map-side), one window partitioned by the
    * conversation key. No joins; every column is integer char
    * arithmetic (both engines count codepoints), so the gate is exact.
    * At 100 TB conversations are per-source-contiguous by
    * construction, so the span window never sees more than 6 rows per
    * key and the source-rank exchange is the only shuffle.
    */
  val sftFormat = Query(
    "tx_sft_format",
    (s, dir) => {
      val d = Tables(s, dir).documents
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val turns = d
        .withColumn("seq", row_number().over(wSrc) - 1)
        .withColumn("conv_id",
          concat(col("source"), lit("#"), floor(col("seq") / 3).cast("long")))
        .withColumn("user_text",
          concat(lit("<|user|>\n"), substring(col("text"), 1, 80)))
        .withColumn("asst_text",
          concat(lit("<|assistant|>\n"), expr("substring(text, 81)"), lit("<|end|>")))
        .select(col("conv_id"), (col("seq") % 3).as("turn_in_conv"),
          explode(array(
            struct(lit(0).as("r"), lit("user").as("role"),
              length(col("user_text")).cast("long").as("n_chars")),
            struct(lit(1).as("r"), lit("assistant").as("role"),
              length(col("asst_text")).cast("long").as("n_chars")))).as("t"))
        .select(col("conv_id"),
          // int64 on the wire on BOTH engines (DuckDB row_number/length
          // are BIGINT) — don't rely on the schema check staying
          // name-only.
          (col("turn_in_conv") * 2 + col("t.r")).cast("long").as("turn_idx"),
          col("t.role").as("role"), col("t.n_chars").as("n_chars"))
      val wConv = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      turns
        .withColumn("seg_end", sum(col("n_chars")).over(wConv))
        .select(col("conv_id"), col("turn_idx"), col("role"),
          (col("seg_end") - col("n_chars")).as("seg_start"), col("seg_end"),
          (col("role") === "assistant").as("loss_masked"), col("n_chars"))
        .orderBy(col("conv_id"), col("turn_idx"))
    },
    oracle = Some("""
      WITH ranked AS (
        SELECT source, text,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS seq
        FROM documents),
      turns AS (
        SELECT source || '#' || (seq // 3) AS conv_id,
               (seq % 3) * 2 + r AS turn_idx, role, n_chars
        FROM (
          SELECT seq, source, 0 AS r, 'user' AS role,
                 length('<|user|>' || chr(10) || substring(text, 1, 80)) AS n_chars
          FROM ranked
          UNION ALL
          SELECT seq, source, 1 AS r, 'assistant' AS role,
                 length('<|assistant|>' || chr(10) || substring(text, 81)
                        || '<|end|>') AS n_chars
          FROM ranked) t)
      SELECT conv_id, turn_idx, role,
             (sum(n_chars) OVER w - n_chars)::BIGINT AS seg_start,
             (sum(n_chars) OVER w)::BIGINT AS seg_end,
             role = 'assistant' AS loss_masked, n_chars
      FROM turns
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
      ORDER BY conv_id, turn_idx
    """),
  )

  /** CCNet-style perplexity bucketing: every language's scored docs
    * split into head/middle/tail thirds by LM score — the curation
    * recipe (Wenzek et al.) that keeps the fluent third, inspects the
    * middle, and drops the tail PER LANGUAGE so low-resource languages
    * aren't graded on the high-resource model's scale. Reuses
    * [[lmScored]] verbatim (one kernel, filter and bucketing cannot
    * drift); the thirds are NTILE(3) SEMANTICS over (avg_logp desc,
    * doc_id) per language — the 4-dp-ROUNDED score orders identically
    * on both engines and doc_id makes the order total — but computed
    * by the q_percentiles distributed rank method, NOT a window:
    * language is a low-cardinality, heavily skewed key, and a
    * hash-by-lang window sort would put half a 100 TB corpus in one
    * task. Output is the bounded per-(lang, bucket) summary: doc
    * count, language share, score range; share divides two exact
    * integers.
    */
  /** Range-sorted (lang, avg_logp desc, doc_id) frame feeding
    * [[pplBuckets]]'s distributed rank method — the q_percentiles
    * shape: range partitioning splits a skewed language across MANY
    * partitions (the sort key carries score+doc_id), where a
    * hash-by-lang window would drop half the corpus into one task.
    */
  private[graft] def pplScoredByLang(s: SparkSession, dir: String): DataFrame =
    sortPplByLang(s, pplScoredBase(s, dir))

  /** The scored (lang, avg_logp, doc_id) frame BEFORE the range
    * exchange — split out so [[pplBuckets]] can checkpoint it: range
    * partitioning SAMPLES its child to pick bounds, so an
    * un-materialized child pays the whole lmScored pipeline twice
    * (once for the sampler, once for the shuffle). Checkpointing here
    * makes both reads block-cached.
    */
  private def pplScoredBase(s: SparkSession, dir: String): DataFrame =
    lmScored(s, dir)
      .join(Tables(s, dir).documents.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("avg_logp"), col("doc_id"))

  private def sortPplByLang(s: SparkSession, df: DataFrame): DataFrame = {
    val nPart = s.sessionState.conf.numShufflePartitions
    df.repartitionByRange(nPart, col("lang"), col("avg_logp").desc, col("doc_id"))
      .sortWithinPartitions(col("lang"), col("avg_logp").desc, col("doc_id"))
  }

  val pplBuckets = Query(
    "tx_ppl_buckets",
    (s, dir) => {
      // ntile(3) over (lang / avg_logp desc, doc_id) WITHOUT a
      // corpus-sized single-partition sort: the q_percentiles rank
      // method. (1) one range shuffle on the full sort key, (2) a
      // bounded per-(partition, lang) count collect (≤ partitions ×
      // langs rows), (3) the driver turns counts into the two ntile
      // boundary RANKS per language (SQL ntile: first n%3 buckets get
      // ⌈n/3⌉ rows), (4) a second pass fetches ONLY the sort-key tuple
      // sitting at each boundary rank (≤ 2 × langs rows), (5) rows
      // buckets are PURE RANK ARITHMETIC over the total order: ntile's
      // bucket of a row is a function of its global (lang, rank) alone,
      // so once per-(partition, lang) counts are known, every output
      // column is computable WITHOUT re-reading the corpus — n_docs
      // and share from count arithmetic, min/max logp from the keys at
      // each bucket's first/last rank (sorted desc ⇒ first = max). The
      // round-11 shape: (1) the pre-shuffle localCheckpoint stops the
      // range sampler from re-running the whole lmScored pipeline
      // (range partitioning executes its child twice — bounds sample +
      // shuffle); (2) ONE range shuffle materializes under the counts
      // job and its map stage is REUSED by the boundary fetch (same
      // RDD lineage — no post-sort checkpoint needed now that nothing
      // re-reads the sorted corpus); (3) the boundary fetch schedules
      // only the ≤ 6×langs partitions holding a bucket edge; (4) the
      // result assembles on the driver (the q_percentiles precedent),
      // driver state O(partitions × langs).
      val base   = pplScoredBase(s, dir).localCheckpoint(true)
      val sorted = sortPplByLang(s, base)
      val rows = sorted.rdd // shared: the 2nd job reuses the shuffle stage
      val counts: Array[((Int, String), Long)] =
        rows.mapPartitionsWithIndex { (pid, it) =>
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
          it.foreach { r =>
            val g = r.getString(0); m.update(g, m.getOrElse(g, 0L) + 1L)
          }
          m.iterator.map { case (g, c) => ((pid, g), c) }
        }.collect()
      val totals: Map[String, Long] =
        counts.groupBy(_._1._2).map { case (g, a) => g -> a.map(_._2).sum }
      // ntile(3) bucket edges as 0-based global rank ranges
      // [0, b1) / [b1, b2) / [b2, n) (SQL ntile: the first n%3 buckets
      // get ⌈n/3⌉ rows); the fetched ranks are each nonempty bucket's
      // FIRST and LAST row — the min/max score carriers
      def bucketRanges(n: Long): Seq[(String, Long, Long)] = {
        val b1 = n / 3 + (if (n % 3 >= 1) 1L else 0L)
        val b2 = b1 + n / 3 + (if (n % 3 >= 2) 1L else 0L)
        Seq(("head", 0L, b1), ("middle", b1, b2), ("tail", b2, n))
      }
      val wanted: Map[String, Seq[Long]] = totals.map { case (g, n) =>
        g -> bucketRanges(n).flatMap { case (_, lo, hi) =>
          if (hi > lo) Seq(lo, hi - 1) else Nil
        }.distinct
      }
      val perPartTargets: Map[Int, Map[String, Map[Long, Long]]] = {
        val acc = scala.collection.mutable.HashMap
          .empty[(Int, String), scala.collection.mutable.HashMap[Long, Long]]
        counts.groupBy(_._1._2).foreach { case (g, arr) =>
          var offset = 0L
          arr.sortBy(_._1._1).foreach { case ((pid, _), c) =>
            wanted(g).foreach { rank =>
              if (rank >= offset && rank < offset + c)
                acc.getOrElseUpdate((pid, g),
                  scala.collection.mutable.HashMap.empty)
                  .update(rank - offset, rank)
            }
            offset += c
          }
        }
        acc.toSeq.groupBy(_._1._1).map { case (pid, entries) =>
          pid -> entries.map { case ((_, g), m) => g -> m.toMap }.toMap
        }
      }
      // the boundary fetch schedules ONLY the partitions that hold a
      // boundary (runJob with an explicit partition list — ≤ 2×langs
      // of them) and each task stops consuming its iterator once its
      // last target rank is found, so the second pass costs a handful
      // of prefix reads, not a full corpus decode
      val targetPids = perPartTargets.keys.toSeq.sorted
      val picked: Array[((String, Long), (Double, Long))] =
        if (targetPids.isEmpty) Array.empty
        else s.sparkContext.runJob(rows,
          (ctx: org.apache.spark.TaskContext,
              it: Iterator[org.apache.spark.sql.Row]) => {
            val byG = perPartTargets(ctx.partitionId())
            var left = byG.valuesIterator.map(_.size).sum
            val local = scala.collection.mutable.HashMap.empty[String, Long]
            val out = scala.collection.mutable.ArrayBuffer
              .empty[((String, Long), (Double, Long))]
            while (it.hasNext && left > 0) {
              val r = it.next()
              val g = r.getString(0)
              val i = local.getOrElse(g, 0L)
              local.update(g, i + 1L)
              byG.get(g).flatMap(_.get(i)).foreach { globalRank =>
                out += (((g, globalRank), (r.getDouble(1), r.getLong(2))))
                left -= 1
              }
            }
            out.toArray
          }, targetPids).flatten
      val keyAt = picked.toMap
      // driver assembly (≤ langs×3 rows): scores at bucket edges ARE
      // the bucket's min/max because the order is total and descending;
      // share divides two exact integers with the same HALF_UP 4-dp
      // rounding Spark's round() applies
      def r4(v: Double): Double = BigDecimal(v)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      val out = totals.keys.toSeq.sorted.flatMap { g =>
        val n = totals(g)
        bucketRanges(n).collect { case (name, lo, hi) if hi > lo =>
          (g, name, hi - lo, r4((hi - lo).toDouble / n),
            keyAt((g, hi - 1))._1, keyAt((g, lo))._1)
        }
      }
      out.toDF("lang", "bucket", "n_docs", "share", "min_logp", "max_logp")
        .orderBy(col("lang"), col("bucket"))
    },
    eagerPlan = Some(pplScoredByLang),
    oracle = Some(s"""
      WITH $lmScoredSql,
      wl AS (
        SELECT s.doc_id, s.avg_logp, d.lang
        FROM scored s JOIN documents d USING (doc_id)
      ), bk AS (
        SELECT lang, avg_logp,
          ntile(3) OVER (PARTITION BY lang
                         ORDER BY avg_logp DESC, doc_id) AS b
        FROM wl
      ), agg AS (
        SELECT lang,
          CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
          count(*) AS n_docs,
          round(min(avg_logp), 4) AS min_logp,
          round(max(avg_logp), 4) AS max_logp
        FROM bk GROUP BY 1, 2)
      SELECT lang, bucket, n_docs,
        round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 4) AS share,
        min_logp, max_logp
      FROM agg ORDER BY lang, bucket
    """),
  )

  /** Cross-source contamination MATRIX — the corpus-forensics view
    * behind dataset mixing decisions: for every source pair, how many
    * distinct 8-grams they share and what fraction of the smaller
    * source that overlap covers (containment). High containment means
    * one source largely re-publishes another (mirrors, scrapes of
    * scrapes) and mixing weights double-count it. Diagonal rows carry
    * each source's distinct-gram count (containment 1), so the matrix
    * is self-describing. Shape: the tx_novelty postings (hashed
    * 8-grams) deduplicated to (source, gram), a hot-gram cap (≤ 20
    * sources per gram — ubiquitous boilerplate would otherwise emit
    * quadratic pairs per gram at domain scale), one gram-keyed
    * self-join, a sources²-bounded rollup. Counts exact; one division
    * per pair.
    */
  val sourceOverlap = Query(
    "tx_source_overlap",
    (s, dir) => {
      val grams = graft.core.Par
        .spreadBy(Tables(s, dir).documents.select(col("source"), col("text")),
          col("source"))
        .select(col("source"),
          explode(graft.functions.HashFunctions.shingleHash32(col("text"), 8))
            .as("h"))
        .distinct()
      val wG = Window.partitionBy(col("h"))
      val capped = grams.withColumn("sdf", count(lit(1)).over(wG))
        .filter(col("sdf") <= 20).drop("sdf")
      val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val shared = capped.as("a")
        .join(capped.as("b"), col("a.h") === col("b.h") &&
          col("a.source") <= col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(sizes.select(col("source").as("src_a"), col("n_grams").as("n_a")),
          "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n_grams").as("n_b")),
          "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          round(col("n_shared") * 1.0 / least(col("n_a"), col("n_b")), 4)
            .as("containment"))
        .orderBy(col("src_a"), col("src_b"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT source,
          list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        FROM documents
      ), g AS (
        SELECT DISTINCT source,
          unnest(list_distinct(list_transform(
            list_transform(range(1, greatest(len(t) - 6, 1)),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                || ' ' || t[i+7]),
            x -> ('0x' || substr(md5(x), 1, 8))::BIGINT))) AS h
        FROM t
      ), capped AS (
        SELECT source, h FROM (
          SELECT source, h, count(*) OVER (PARTITION BY h) AS sdf FROM g)
        WHERE sdf <= 20
      ), sizes AS (
        SELECT source, count(*) AS n_grams FROM g GROUP BY 1
      ), shared AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.source <= b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, n_shared, sa.n_grams AS n_a, sb.n_grams AS n_b,
        round(n_shared * 1.0 / least(sa.n_grams, sb.n_grams), 4)
          AS containment
      FROM shared
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
      ORDER BY src_a, src_b
    """),
  )

  def all: Seq[Query] = Seq(tokenStats, quality, langid, langidNgram,
    fingerprint, rollingFingerprint, bigrams, bpeTokens, tfidf,
    repetition, piiRedact, entropy, sample, trainSplit, corpusLedger, shards, mixRebalance,
    mixTemperature, filterFunnel, vocab, pack, packBpe, chunks, heavyHitters,
    sourceCap, bm25, bm25Probe, indexUpsert, statsAudit, indexDelete, lmScore, lmHoldout, bpeTrain, bpeEncode, bpeVocab, countMin, packEval, evalSample,
    novelty, datasetCard, sftFormat, pplBuckets, tokenizerEval, sourceOverlap)
}
