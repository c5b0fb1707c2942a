package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis + deduplication operators over the `documents` table — the
  * training-data-pipeline extensions (SURVEY §7 step 8) plus the reference's
  * full-text-search operator T1 (`/root/reference/iis_etl/logic.py:394-404`).
  *
  * Scale notes (100 TB):
  *  - every per-document computation here is embarrassingly parallel and stays
  *    inside whole-stage codegen (no UDFs);
  *  - MinHash-LSH is the scale path for near-dup detection: candidate
  *    generation is a self-join on (band, band_key) — a shuffle keyed on a
  *    16-byte hash, never an all-pairs product;
  *  - n-gram Jaccard is deliberately restricted to a partition key (`source`)
  *    — the classic "block then compare" shape; unblocked all-pairs would be
  *    O(n²) and is exactly what LSH exists to avoid.
  */
object TextQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** DuckDB fragment equivalent to [[TextFunctions.tokens]] over an arbitrary
    * SQL expression — kept next to the Scala definition so the two tokenizers
    * can't drift. Shared with the ETL-shaped queries (search-vector oracle).
    */
  private[queries] def sqlToksOf(e: String): String =
    s"""list_filter(string_split_regex(lower($e), '[^\\p{L}\\p{Nd}]+'),
       t -> length(t) > 0)"""

  private val SqlToks = sqlToksOf("text")

  private[queries] val SqlStop =
    Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB fragment equivalent to [[TextFunctions.lexemes]] over an
    * arbitrary SQL expression, serialized '|'-joined.
    */
  private[queries] def sqlLexemesOf(e: String): String =
    s"""array_to_string(list_sort(list_distinct(list_filter(${sqlToksOf(e)},
        t -> length(t) >= 2 AND NOT list_contains($SqlStop, t)))), '|')"""

  /** RU suffix table as a DuckDB list literal, longest-first — generated from
    * the same [[TextFunctions.RuSuffixes]] the native expression uses, so the
    * engine and oracle stemmers cannot drift. Equal-length ties are
    * irrelevant: two same-length suffixes matching one token's tail are the
    * same string.
    */
  private val SqlRuSuffixes = RuSuffixesByLength
    .map(s => s"'$s'").mkString("[", ", ", "]")

  /** DuckDB lambda: longest matching suffix stripped once, stem >= 3 chars —
    * mirror of [[TextFunctions.ruStem]]. Maps each candidate suffix to the
    * stripped form (or NULL), takes the first non-null in longest-first order.
    */
  private def sqlRuStem(tok: String): String =
    s"""coalesce(list_filter(list_transform($SqlRuSuffixes,
        s -> CASE WHEN ends_with($tok, s) AND length($tok) - length(s) >= 3
                  THEN substr($tok, 1, length($tok) - length(s)) END),
        x -> x IS NOT NULL)[1], $tok)"""

  /** Shared MinHash banding: 16 keyed-md5 minhashes folded into 4 band keys.
    *
    * ZERO-SHUFFLE shape: each signature position is `array_min(transform(
    * tokens, md5(i:tok)))` — pure per-row codegen — instead of exploding
    * tokens and re-grouping (which shuffles |doc×token| rows). Stateless
    * per-row banding is also what makes the SAME computation legal in a
    * streaming pipeline before a stateful operator (no aggregation). Empty
    * docs are excluded, matching the explode form (they produce no token
    * rows there). Signature strings are identical to the oracle's
    * per-(doc,i) MIN(md5(i:tok)).
    */
  private[graft] def bandsOf(docs: DataFrame): DataFrame = minhashBands(docs)

  private[graft] def minhashSignature(text: Column): Seq[Column] = {
    val toks = array_distinct(tokens(text))
    (0 to 15).map(i =>
      array_min(transform(toks, t => md5(concat(lit(s"$i:"), t))))
        .as(s"h$i"))
  }

  /** Uncached stateless banding — also legal on a STREAMING DataFrame (no
    * aggregation before a stateful operator; see `StreamOps.lshOwnership`).
    *
    * `nBands` × `rowsPer` must cover the 16-hash signature. The split is
    * the LSH recall knob: a pair with Jaccard s becomes a candidate with
    * probability 1-(1-s^rowsPer)^nBands, so 8×2 banding catches far more
    * mid-similarity pairs than 4×4 (at s=0.5: 92% vs 23%) at the cost of
    * coarser bands proposing more false candidates to verify.
    *
    * Measured-and-REJECTED (round 3): a native one-pass `minhash_sig`
    * Catalyst expression fusing the 16 interpreted `array_min(transform)`
    * trees (single tokenization, 16 running minima). Value-identical and
    * structurally cleaner, but an A/B showed no win (0.81–0.88 s vs
    * 0.75–1.10 s warm at sf0.1; PLANS.md, "Native cosine") — the 16 md5
    * digests per distinct token dwarf HOF dispatch and re-tokenization at
    * any document length, so the fusion saves nothing. Contrast
    * `catalyst.CosineSim`, adopted on the same day's measurements: there
    * the per-element work is a bare FP multiply-add, interpretation
    * overhead WAS the bottleneck, and the native loop halved its query.
    * Promotion to a native expression pays iff per-element work is cheap
    * relative to lambda dispatch.
    */
  private[graft] def statelessBands(docs: DataFrame, nBands: Int = 4,
                                    rowsPer: Int = 4): DataFrame = {
    require(nBands * rowsPer <= 16, s"banding $nBands x $rowsPer > 16 hashes")
    val sig = docs
      .filter(size(array_distinct(tokens(col("text")))) > 0)
      .select(col("doc_id") +: minhashSignature(col("text")): _*)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).cast("long").as("band"),
        md5(concat_ws(",",
          (0 until rowsPer).map(j => col(s"h${b * rowsPer + j}")): _*))
          .as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Distinct word 3-grams of `text` — via two zip_with string concats
    * over shifted views, NOT `transform(sequence, i -> concat_ws(slice(
    * toks, i+1, 3)))`: the slice form allocates a fresh 3-element array
    * per gram and measured 6x slower at sf0.1 (5.85 s vs 0.98 s explode;
    * PLANS.md, "Round-5 additions"). zip_with's trailing partial grams
    * (null-padded) are cut by the outer slice to exactly the size-2 full
    * grams. Shared by decontamination and the boilerplate detector.
    */
  private[queries] def wordGrams(text: Column): Column = {
    val n = 3
    val toks = tokens(text)
    val b = slice(toks, lit(2), greatest(lit(0), size(toks) - 1))
    val c = slice(toks, lit(3), greatest(lit(0), size(toks) - 2))
    val g = zip_with(zip_with(toks, b, (x, y) => concat(x, lit(" "), y)),
      c, (xy, z) => concat(xy, lit(" "), z))
    when(size(toks) >= n,
      array_distinct(slice(g, lit(1), size(toks) - lit(n) + 1)))
      .otherwise(array().cast("array<string>"))
  }

  private def minhashBands(docs: DataFrame): DataFrame =
    // Repartition first: the raw corpus scan may be a single input split,
    // and a cached single-partition intermediate serializes both the md5
    // work and the band self-join expansion that broadcasts against it
    // (measured: 8s single-task vs 1.5s parallel). Cached at definition:
    // five dedup queries consume this one intermediate (CacheManager dedups
    // by plan, so they all hit a single materialization).
    statelessBands(docs.repartition(col("doc_id"))).cache()

  /** Exact Jaccard for an explicit candidate-pair set: per-doc sorted token
    * arrays are joined to the pairs (two hash joins keyed on doc id) and the
    * intersection is computed per pair inside codegen. Cost is O(|pairs|) —
    * the point of candidate pre-filtering — instead of O(shared tokens).
    *
    * The arrays are built per-row (`sort_array(array_distinct(tokens))`, pure
    * codegen, zero shuffle) — the earlier explode+groupBy form shuffled
    * |doc×token| rows just to reassemble what each row already had. Empty
    * docs keep an empty array here where the grouped form dropped them; no
    * output difference because banding excludes them from every pair.
    */
  private def exactJaccardOnPairs(docs: DataFrame,
                                  pairs: DataFrame): DataFrame = {
    // per-pair intersection via the native two-pointer merge count — the
    // arrays are sorted+distinct by construction, and array_intersect's
    // per-call hash set was the dominant verify cost (see the expression's
    // scaladoc and the A/B in its commit)
    graft.catalyst.SortedIntersectCount.register(docs.sparkSession)
    val arrs = docs.select(col("doc_id"),
        sort_array(array_distinct(tokens(col("text")))).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
    pairs
      .join(arrs.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
        col("n").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
        col("n").as("nb")), "doc_b")
      .withColumn("c", graft.catalyst.SortedIntersectCount
        .sortedIntersectCount(col("ta"), col("tb")))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
          .as("jaccard"))
  }

  /** Body of `dd_jaccard_lsh` (also driven by the scale probe). */
  private[graft] def jaccardLshOf(d: DataFrame): DataFrame =
    jaccardLshOf(d, minhashBands(d))

  private[graft] def jaccardLshOf(d: DataFrame, bandsIn: DataFrame,
                                  threshold: Double = 0.5): DataFrame = {
    val src = d.select(col("doc_id"), col("source"))
    val bands = bandsIn.join(src, "doc_id")
    val a = bands.select(col("band"), col("band_key"), col("source"),
      col("doc_id").as("doc_a"))
    val b = bands.select(col("band").as("band_b"),
      col("band_key").as("band_key_b"), col("source").as("source_b"),
      col("doc_id").as("doc_b"))
    val cand = a.join(b, col("band") === col("band_b") &&
        col("band_key") === col("band_key_b") &&
        col("source") === col("source_b") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    exactJaccardOnPairs(d, cand).filter(col("jaccard") >= threshold)
  }

  /** BM25-ranked retrieval (Robertson/Lucene idf, k1 = 1.2, b = 0.75) —
    * the scoring layer boolean tsvector search lacks, and what a
    * decontamination/retrieval pipeline actually ranks with. THE named
    * scorer: the `t1_bm25` oracle query, the RRF hybrid leg, and the
    * `CALL system.bm25` procedure all call this one body, so the SQL
    * surface can never drift from the library path.
    *
    * Scale shape: postings are filtered to the QUERY terms BEFORE any
    * shuffle, so the per-doc side is O(matching postings), not
    * O(corpus tokens); the df table (|query terms| rows) and the one
    * (n_docs, avgdl) stats row are broadcast. ONE tokenize pass and ONE
    * doc-keyed shuffle: the per-doc length and the per-query-term tfs
    * come out of the same aggregation (conditional counts — the term
    * list is a fixed query-time constant), and the tiny (doc_id, dl,
    * tf…) frame is cached for its three consumers (stats, tf, df)
    * instead of re-tokenizing the corpus per branch. Determinism:
    * per-term scores are rounded to 6dp and summed in DECIMAL (the dsum
    * rule) — the fold is shuffle-order independent and the rounding
    * absorbs the cross-engine ln() ULP, so the oracle hash-matches.
    * Returns (doc_id, n_terms, bm25) for docs matching ≥1 term.
    */
  def bm25Scores(d: DataFrame, qTerms: Seq[String]): DataFrame =
    bm25ScoresWithHandle(d, qTerms)._1

  /** [[bm25Scores]] plus the cached per-doc intermediate it registers —
    * the handle its three consumers share. One-shot callers (the
    * `CALL system.bm25` procedure) unpersist the handle after
    * materializing; the oracle/bench query paths keep the plain form,
    * where the session-scoped CacheManager dedups the entry by plan
    * across reruns. Ownership lives HERE, next to the `.cache()` call —
    * a caller re-deriving the plan to release it would silently stop
    * matching the moment this body drifts.
    */
  def bm25ScoresWithHandle(d: DataFrame,
                           qTerms: Seq[String]): (DataFrame, DataFrame) = {
    require(qTerms.nonEmpty && qTerms.distinct == qTerms,
      s"bm25 needs distinct nonempty query terms: $qTerms")
    val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val perDoc = tok.groupBy("doc_id").agg(
      count(lit(1)).as("dl"),
      qTerms.map(qt =>
        count(when(col("tok") === qt, lit(1))).as("tf_" + qt)): _*)
      .cache()
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast(DoubleType) / count(lit(1))).as("avgdl"))
    val tf = perDoc.select(col("doc_id"), col("dl"),
      explode(map(qTerms.flatMap(qt =>
        Seq(lit(qt), col("tf_" + qt))): _*)).as(Seq("tok", "tf")))
      .filter(col("tf") > 0)
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scores = tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(stats))
      // k1 = 1.2, b = 0.75: k1+1 = 2.2, 1-b = 0.25 — literals spelled
      // identically in the SQL twin so the double trees are bit-equal
      .withColumn("ts", round(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
        .cast(DecimalType(18, 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("ts")).as("sc"))
      .select(col("doc_id"), col("n_terms"),
        col("sc").cast(DoubleType).as("bm25"))
    (scores, perDoc)
  }

  /** Oracle for the LSH-gated Jaccard queries: replays the banding at the
    * given rows-per-band width (band id = i // rowsPer over the 16 hashes),
    * then verifies exactly — independent of the Spark zero-shuffle form.
    */
  private def jaccardLshOracle(rowsPer: Int): String =
    s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // $rowsPer AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id),
          candsrc AS (
            SELECT doc_a, doc_b FROM cand
            JOIN documents da ON da.doc_id = doc_a
            JOIN documents db ON db.doc_id = doc_b
            WHERE da.source = db.source),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
          inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS c
            FROM candsrc c
            JOIN toks a ON a.doc_id = c.doc_a
            JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
            GROUP BY 1, 2)
          SELECT doc_a, doc_b,
                 CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
          FROM inter
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b
          WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5"""

  private val BpeMerges = 30

  /** One BPE learn round as three CTEs: weighted pair counts over the
    * current vocabulary's piece lists, argmax by (count DESC, pair), and
    * the left-to-right non-overlapping rewrite. The rewrite keeps every
    * other position of each maximal run of consecutive match positions
    * (runs only arise when a = b), which is exactly the greedy scan in
    * `Bpe.learn`. MATERIALIZED is load-bearing: each round references the
    * previous vocab twice, so inlined CTEs would expand 2^rounds subtrees.
    */
  private def bpeRoundCtes(i: Int): String =
    s"""
  pc$i AS MATERIALIZED (
    SELECT pr[1] AS a, pr[2] AS b, SUM(c) AS cnt
    FROM (SELECT c, unnest(list_transform(generate_series(1, len(p)-1),
                     j -> [p[j], p[j+1]])) AS pr FROM v${i - 1})
    GROUP BY 1, 2),
  bs$i AS (SELECT a, b FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1),
  v$i AS MATERIALIZED (
    SELECT w, c,
      list_filter(
        list_transform(p, (x,i) ->
          CASE WHEN list_contains(kept, i) THEN x || p[i+1]
               WHEN list_contains(kept, i-1) THEN NULL
               ELSE x END),
        x -> x IS NOT NULL) AS p
    FROM (
      SELECT w, c, p,
        list_filter(m, (x,i) ->
          (i - list_position(list_transform(m, (y,k) -> y - k), x - i)) % 2
            = 0) AS kept
      FROM (
        SELECT w, c, p,
          list_filter(generate_series(1, len(p)-1),
            j -> p[j] = bs.a AND p[j+1] = bs.b) AS m
        FROM v${i - 1}, bs$i AS bs)))"""

  /** `tx_bpe_tokens` oracle: the `BpeMerges` learn rounds unrolled into
    * generated SQL, the same trick the connected-components oracle uses for
    * its LP rounds. No per-document encode loop is replayed: greedy
    * lowest-rank merge application (`Bpe.Model.encodeWord`) to a word that
    * is IN the vocabulary yields exactly that word's end-of-learning piece
    * list — a merge creating token t always precedes any merge consuming t,
    * so applying a merge never enables a lower-ranked one, making greedy
    * and in-rank-order application coincide. The vocabulary here is the
    * corpus vocabulary itself (cap mirrored from `Bpe.learnFromCorpus`),
    * so every document token joins to its final pieces.
    */
  private def bpeOracleSql: String =
    s"""WITH v0 AS MATERIALIZED (
    SELECT w, c, list_transform(generate_series(1, length(w)),
                                j -> w[j]) AS p
    FROM (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest($SqlToks) AS w FROM documents)
      GROUP BY w ORDER BY c DESC, w LIMIT 65536)),${
      (1 to BpeMerges).map(bpeRoundCtes).mkString(",")},
  dt AS (
    SELECT doc_id, unnest(toks) AS w,
           unnest(generate_series(1, len(toks))) AS ord
    FROM (SELECT doc_id, $SqlToks AS toks FROM documents)),
  enc AS (
    SELECT dt.doc_id,
           flatten(list(v.p ORDER BY dt.ord)) AS pieces
    FROM dt JOIN v$BpeMerges v USING (w) GROUP BY dt.doc_id)
  SELECT d.doc_id,
         coalesce(array_to_string(e.pieces, '|'), '') AS bpe_pieces,
         CAST(coalesce(len(e.pieces), 0) AS BIGINT) AS n_bpe_tokens
  FROM documents d LEFT JOIN enc e USING (doc_id)"""

  val queries: Seq[Query] = Seq(

    // T1 — tsvector equivalent: sorted distinct stopword-free lexemes.
    // Serialized '|'-joined (sorted, so canonical): the driver's pandas
    // comparer can't hash array cells; the lexeme computation is unchanged.
    Query("t1_tokenize",
      s"""SELECT doc_id,
            array_to_string(
              list_sort(list_distinct(list_filter($SqlToks,
                t -> length(t) >= 2 AND NOT list_contains($SqlStop, t)))), '|')
              AS search_lexemes
          FROM documents""")((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(lexemes(col("text")), "|").as("search_lexemes"))),

    // T1 query side — `@@ to_tsquery('spark & join')` equivalent.
    Query("t1_search",
      s"""SELECT doc_id FROM (
            SELECT doc_id,
              list_filter($SqlToks,
                t -> length(t) >= 2 AND NOT list_contains($SqlStop, t)) AS lex
            FROM documents)
          WHERE list_contains(lex, 'spark') AND list_contains(lex, 'join')""")((s, dir) =>
      t(s, dir, "documents")
        .withColumn("lex", lexemes(col("text")))
        .filter(matchesQuery(col("lex"), "spark join"))
        .select("doc_id")),

    // T1 extension — BM25-ranked retrieval (Robertson/Lucene idf): the
    // scoring layer boolean tsvector search lacks, and what a
    // decontamination/retrieval pipeline actually ranks with. Scale
    // shape: postings are filtered to the QUERY terms BEFORE any
    // shuffle, so the per-doc side is O(matching postings), not
    // O(corpus tokens); the df table (|query terms| rows) and the one
    // (n_docs, avgdl) stats row are broadcast. Determinism: per-term
    // scores are rounded to 6dp and summed in DECIMAL (the dsum rule) —
    // the fold is shuffle-order independent and the rounding absorbs
    // the cross-engine ln() ULP, so the oracle hash-matches. The
    // doc-length pass is corpus-wide but partial-aggable (one count per
    // doc) — the same two-pass cost class as tx_unigram_lm.
    Query("t1_bm25",
      s"""WITH tok AS (SELECT doc_id, unnest($SqlToks) AS tok
                       FROM documents),
          dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                    FROM dlen),
          posts AS (SELECT doc_id, tok FROM tok
                    WHERE tok IN ('hash', 'join', 'filter')),
          df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df
                 FROM posts GROUP BY tok),
          tf AS (SELECT doc_id, tok, COUNT(*) AS tf
                 FROM posts GROUP BY doc_id, tok),
          ts AS (SELECT tf.doc_id,
                   CAST(round(
                     ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                       (tf * 2.2) /
                       (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                     6) AS DECIMAL(18,6)) AS ts
                 FROM tf JOIN df USING (tok) JOIN dlen USING (doc_id)
                 CROSS JOIN stats)
          SELECT doc_id, COUNT(*) AS n_terms,
            CAST(SUM(ts) AS DOUBLE) AS bm25
          FROM ts GROUP BY doc_id""")((s, dir) =>
      bm25Scores(t(s, dir, "documents"), Seq("hash", "join", "filter"))),

    // The SQL surface of the same scorer: `CALL system.bm25` over a txlog
    // documents table returns the top-k (deterministic total order:
    // score desc, doc_id asc — ties at the k boundary break identically
    // on both engines). Same oracle CTE as t1_bm25 with the order+limit
    // applied: the procedure path must rank exactly like the library.
    Query("sql_bm25",
      s"""WITH tok AS (SELECT doc_id, unnest($SqlToks) AS tok
                       FROM documents),
          dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT COUNT(*) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                    FROM dlen),
          posts AS (SELECT doc_id, tok FROM tok
                    WHERE tok IN ('hash', 'join', 'filter')),
          df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df
                 FROM posts GROUP BY tok),
          tf AS (SELECT doc_id, tok, COUNT(*) AS tf
                 FROM posts GROUP BY doc_id, tok),
          ts AS (SELECT tf.doc_id,
                   CAST(round(
                     ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                       (tf * 2.2) /
                       (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                     6) AS DECIMAL(18,6)) AS ts
                 FROM tf JOIN df USING (tok) JOIN dlen USING (doc_id)
                 CROSS JOIN stats)
          SELECT doc_id, COUNT(*) AS n_terms,
            CAST(SUM(ts) AS DOUBLE) AS bm25
          FROM ts GROUP BY doc_id
          ORDER BY bm25 DESC, doc_id LIMIT 50""")((s, dir) => {
      EtlQueries.ensureCatalog(s)
      t(s, dir, "documents").createOrReplaceTempView("docs_bm_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.docs_bm")
      s.sql("CREATE TABLE graftcat.db.docs_bm USING txlog AS " +
        "SELECT doc_id, text FROM docs_bm_src")
      s.sql(
        "CALL graftcat.system.bm25('db.docs_bm', 'hash join filter', 50)")
    }),

    // Quality scoring — length/word-shape/alphabetic-ratio heuristics.
    Query("tx_quality",
      s"""WITH base AS (
            SELECT doc_id, text,
              CAST(length(text) AS BIGINT) AS n_chars_calc,
              CAST(len($SqlToks) AS BIGINT) AS n_tokens,
              CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS BIGINT) AS n_alpha
            FROM documents)
          SELECT doc_id, n_chars_calc, n_tokens,
            round(
              least(n_chars_calc / 200.0, 1.0) * 0.3 +
              (CASE WHEN n_tokens > 0
                     AND CAST(n_chars_calc AS DOUBLE) / n_tokens >= 3
                     AND CAST(n_chars_calc AS DOUBLE) / n_tokens <= 10
                    THEN 1.0 ELSE 0.5 END) * 0.3 +
              (CASE WHEN n_chars_calc > 0
                    THEN CAST(n_alpha AS DOUBLE) / n_chars_calc
                    ELSE 0.0 END) * 0.4, 6) AS quality
          FROM base""")((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_calc"),
        tokenCount(col("text")).cast(LongType).as("n_tokens"),
        qualityScore(col("text")).as("quality"))
    }),

    // Language-ID — stopword-profile argmax with deterministic tie-break.
    Query("tx_langid", {
      val profiles = LangProfiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS INT) AS s_$lang"
      }.mkString(",\n              ")
      s"""WITH base AS (
            SELECT doc_id, lang, $SqlToks AS toks FROM documents),
          scored AS (
            SELECT doc_id, lang,
              $profiles
            FROM base),
          best AS (
            SELECT doc_id, lang,
              greatest(s_en, s_de, s_fr, s_es, s_ru) AS w,
              s_en, s_de, s_fr, s_es, s_ru
            FROM scored)
          SELECT doc_id, lang,
            CASE WHEN w = 0 THEN 'und'
                 WHEN s_ru = w THEN 'ru'
                 WHEN s_fr = w THEN 'fr'
                 WHEN s_es = w THEN 'es'
                 WHEN s_en = w THEN 'en'
                 ELSE 'de' END AS lang_pred
          FROM best"""
    })((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          langId(col("text")).as("lang_pred"))),

    // Token counting — whitespace tokens + BPE-ish subword proxy.
    // Deterministic train/val/test split — the reproducibility staple of a
    // training-data pipeline: the split is a pure function of a stable key
    // (hash of doc_id + salt, NEVER Math.random), so any engine reproduces
    // the same assignment, late-arriving docs don't reshuffle earlier ones,
    // and the fractions hold per `source` stratum by hash uniformity.
    // Scale: per-row codegen, zero shuffle, split is a partition-pruning
    // column when written out.
    Query("tx_split",
      """SELECT doc_id, source,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 CAST('0x' || substring(
                   md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6)
                   AS BIGINT) % 100 AS b
               FROM documents)""")((s, dir) => {
      val bucket = (conv(substring(md5(
        concat(lit("split:"), col("doc_id").cast(StringType))), 1, 6),
        16, 10).cast(LongType) % 100).as("bucket")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), bucket)
        .select(col("doc_id"), col("source"),
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
    }),

    Query("tx_token_count",
      s"""SELECT doc_id,
            CAST(len($SqlToks) AS BIGINT) AS n_ws_tokens,
            CAST(list_aggregate(list_transform($SqlToks,
              t -> greatest(1, CAST(ceil(length(t) / 4.0) AS INT))), 'sum')
              AS BIGINT) AS n_subwords
          FROM documents""")((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).cast(LongType).as("n_ws_tokens"),
        subwordCount(col("text")).cast(LongType).as("n_subwords"))),

    // Context-window chunking — the training-example cutter: each doc's
    // token stream becomes fixed 32-token windows at stride 24 (8-token
    // overlap so no span is ever split across example boundaries without
    // a copy). Pure per-row explode (map-side, no shuffle): at 100 TB
    // chunking is scan-bound and embarrassingly parallel, the output is
    // O(tokens / stride) rows. The oracle recomputes every window with
    // list_slice over the same whitespace split, so boundaries, overlap
    // and the short-tail window are all hash-checked.
    // DETERMINISTIC corpus shuffle with contiguous global positions —
    // the training-order staple: every document gets a stable index in
    // a seeded pseudo-random order (sample i of epoch e is the same doc
    // on every engine, rerun, and resume). The order key is the same
    // engine-reproducible md5 device as tx_split (seeded, doc_id
    // tiebreak); the 0..N-1 enumeration runs through
    // operators.GlobalIndex — a range-partitioned distributed sort +
    // two-pass per-partition stamping, NEVER row_number() over one
    // global partition (the non-starter at 100 TB).
    Query("tx_shuffle",
      """SELECT doc_id, k,
           row_number() OVER (ORDER BY k, doc_id) - 1 AS idx
         FROM (SELECT doc_id,
                 CAST('0x' || substring(
                   md5('shuffle:7:' || CAST(doc_id AS VARCHAR)), 1, 12)
                   AS BIGINT) AS k
               FROM documents)""")((s, dir) => {
      val key = conv(substring(md5(concat(lit("shuffle:7:"),
        col("doc_id").cast(StringType))), 1, 12), 16, 10)
        .cast(LongType)
      graft.operators.GlobalIndex.assign(
        t(s, dir, "documents").select(col("doc_id"), key.as("k")),
        sortCols = Seq("k", "doc_id"), indexCol = "idx")
    }),

    Query("tx_chunk_windows",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
          s AS (SELECT doc_id, toks,
                  unnest(generate_series(0, (len(toks) - 1) // 24)) AS i
                FROM d)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, i*24 + 1, i*24 + 32)) AS BIGINT)
             AS n_chunk_tokens
         FROM s""")((s, dir) => {
      val W = 32; val S = 24
      val d = t(s, dir, "documents")
      val toks = split(col("text"), " ")
      d.select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), floor((size(col("toks")) - 1) / S).cast("int")),
            i => array_join(slice(col("toks"), i * S + 1, lit(W)), " "))))
        .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
          col("col").as("chunk_text"),
          size(split(col("col"), " ")).cast(LongType).as("n_chunk_tokens"))
    }),

    // Sequence packing (the GPT-style data-prep step): docs are greedily
    // packed in doc_id order into ~512-token bins, WITHIN deterministic
    // shards — the scale shape: a global pack order would be one
    // single-partition window (anti-scale); sharding by doc_id keeps
    // every window partition-parallel while packs stay deterministic and
    // reproducible. The shard COUNT is derived from the corpus:
    // ⌈total_tokens / tokens_per_shard⌉, so a 10× corpus gets 10× the
    // windows at a constant per-shard sort size (a fixed count would cap
    // parallelism — one shard of a 100 TB corpus is a 12.5 TB sort). The
    // one-row total-tokens agg is a map-side-partial reduce, and the
    // oracle recomputes the SAME formula relationally, so determinism
    // holds at every SF without pinning. pack_seq = running token total
    // before the doc, integer-divided by the budget: a doc lands in the
    // pack its prefix sum reaches, the streaming-packer approximation of
    // bin packing.
    Query("tx_pack_sequences",
      s"""WITH d0 AS (SELECT doc_id,
             CAST(len($SqlToks) AS BIGINT) AS n_tokens FROM documents),
          k AS (SELECT GREATEST(1, CAST(CEIL(SUM(n_tokens) / 65536.0)
                  AS BIGINT)) AS shards FROM d0),
          d AS (SELECT doc_id, doc_id % (SELECT shards FROM k) AS shard,
                  n_tokens FROM d0)
          SELECT doc_id, shard, n_tokens,
            CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 512 AS BIGINT) AS pack_seq
          FROM d""")((s, dir) => {
      val B = 512          // tokens per pack
      val T = 65536L       // target tokens per shard — the parallelism knob
      // Materialize the per-doc token counts ONCE: the one-row total agg
      // below and the windowed pack assignment both read the cached
      // blocks, so the expensive tokenize pass runs a single time (the
      // CacheManager dedups by plan — the same session-scoped pattern as
      // the k-means artifacts). The cached frame is (doc_id, n_tokens) —
      // ~16 B/doc, thousands of times smaller than the corpus it
      // summarizes, so the executor-storage cost is noise even at 100 TB.
      val base = t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .cache()
      val total = base.agg(sum("n_tokens")).head.getLong(0)
      val shards = math.max(1L, (total + T - 1) / T)
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      base
        .withColumn("shard", col("doc_id") % shards)
        .withColumn("pack_seq",
          (coalesce(sum("n_tokens").over(w), lit(0L)) / B).cast(LongType))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("pack_seq"))
    }),

    // Repetition metrics (the Gopher-style quality signals): type-token
    // ratio plus the most-frequent-bigram share — the degenerate-repetition
    // detector filter pipelines run before training. Scale: TTR is per-row
    // codegen; the bigram mode shuffles on (doc_id, bigram) with map-side
    // partial counts, then one doc-keyed agg — bounded by the corpus token
    // count, the same asymptotics as tokenize itself.
    Query("tx_repetition",
      s"""WITH tk AS (SELECT doc_id, $SqlToks AS toks FROM documents),
          bg AS (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1])) AS bg
                 FROM tk),
          bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
          agg AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS tot
                  FROM bgc GROUP BY 1)
          SELECT t.doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CASE WHEN len(toks) > 0
                 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 ELSE 0.0 END AS ttr,
            COALESCE(CAST(top AS DOUBLE) / tot, 0.0) AS top_bigram_frac
          FROM tk t LEFT JOIN agg USING (doc_id)""")((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast(LongType))
        .withColumn("ttr", when(col("n_tokens") > 0,
            size(array_distinct(col("toks"))).cast(DoubleType) /
              col("n_tokens"))
          .otherwise(lit(0.0)))
      // adjacent-pair list; sequence() descends when size < 2, so guard
      val bigrams = base.select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
            expr("""transform(sequence(1, size(toks) - 1),
                    i -> concat_ws(' ', element_at(toks, i),
                                   element_at(toks, i + 1)))"""))
          .otherwise(array(lit(null).cast(StringType)))).as("bg"))
        .filter(col("bg").isNotNull)
      val perDoc = bigrams.groupBy("doc_id", "bg")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max("c").as("top"), sum("c").as("tot"))
      base.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("ttr"),
          coalesce(col("top").cast(DoubleType) / col("tot"), lit(0.0))
            .as("top_bigram_frac"))
    }),

    // Stratified deterministic sampling — downweighting over-represented
    // sources is the other reproducibility staple next to tx_split: the
    // keep decision is a pure function of (salted doc_id hash, per-stratum
    // rate), so any engine reproduces the sample, late arrivals don't
    // perturb earlier decisions, and rates hold per stratum by hash
    // uniformity. Per-row codegen, zero shuffle.
    Query("tx_sample_stratified",
      """SELECT doc_id, source, rate FROM (
           SELECT doc_id, source,
             CAST('0x' || substring(
               md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 6)
               AS BIGINT) % 100 AS b,
             CASE WHEN length(source) = 4 THEN CAST(20 AS BIGINT)
                  ELSE CAST(80 AS BIGINT) END AS rate
           FROM documents)
         WHERE b < rate""")((s, dir) => {
      val bucket = (conv(substring(md5(
        concat(lit("sample:"), col("doc_id").cast(StringType))), 1, 6),
        16, 10).cast(LongType) % 100).as("bucket")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), bucket)
        .withColumn("rate",
          when(length(col("source")) === 4, 20L).otherwise(80L))
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("source"), col("rate"))
    }),

    // Domain MIXTURE sampling with DERIVED rates — the data-curation step
    // that turns "train on half the corpus, weighted equally per domain"
    // into per-document keep/drop decisions: per-domain token counts give
    // each domain's acceptance rate (budget/actual, capped at 1), and a
    // deterministic md5 bucket applies it — no RNG, re-runs and engines
    // agree row-for-row. Scale shape: ONE aggregation produces a
    // #domains-row rate table (broadcast back), then a map-side filter —
    // the corpus is scanned once and never shuffled. Rates live as ppm
    // BIGINTs (floor of an IEEE double both engines compute identically)
    // so the keep decision is an integer compare, immune to float drift.
    Query("tx_domain_mix",
      s"""WITH dtok AS (SELECT doc_id, source,
                CAST(len($SqlToks) AS BIGINT) AS n_tok
              FROM documents),
          per AS (SELECT source, SUM(n_tok) AS src_tok
                  FROM dtok GROUP BY source),
          tot AS (SELECT SUM(src_tok) AS tot, COUNT(*) AS nd FROM per),
          rates AS (SELECT source,
                      least(CAST(1000000 AS BIGINT),
                        CAST(floor(CAST(500000.0 AS DOUBLE) * tot /
                          (nd * src_tok)) AS BIGINT)) AS rate_ppm
                    FROM per CROSS JOIN tot)
          SELECT doc_id, dtok.source, rate_ppm
          FROM dtok JOIN rates ON dtok.source = rates.source
          WHERE CAST('0x' || substring(
              md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6)
              AS BIGINT) % 1000000 < rate_ppm""")((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast(LongType).as("n_tok"))
      val per = d.groupBy("source").agg(sum("n_tok").as("src_tok"))
      val tot = per.agg(sum("src_tok").as("tot"),
        count(lit(1)).as("nd"))
      // uniform target: half the corpus tokens, split evenly over domains
      val rates = per.crossJoin(broadcast(tot))
        .withColumn("rate_ppm", least(lit(1000000L),
          floor(lit(500000.0) * col("tot") /
            (col("nd") * col("src_tok"))).cast(LongType)))
        .select(col("source"), col("rate_ppm"))
      val bucket = (conv(substring(md5(
        concat(lit("mix:"), col("doc_id").cast(StringType))), 1, 6),
        16, 10).cast(LongType) % 1000000L).as("bucket")
      d.select(col("doc_id"), col("source"), bucket)
        .join(broadcast(rates), "source")
        .filter(col("bucket") < col("rate_ppm"))
        .select(col("doc_id"), col("source"), col("rate_ppm"))
    }),

    // Benchmark DECONTAMINATION — the n-gram-overlap filter every serious
    // pretraining pipeline runs before training (drop any train doc
    // sharing a word n-gram with the eval/benchmark set, the GPT-3 /
    // PaLM-style 13-gram rule scaled to this corpus's short texts as
    // 3-grams). The benchmark set here is the deterministic doc_id % 97
    // slice standing in for a held-out eval suite. Scale shape: the
    // benchmark's distinct grams are SMALL by construction (eval suites
    // are thousands of docs, not billions) → broadcast hash semi-join
    // against the exploded train grams, so the only wide shuffle is the
    // distinct on contaminated doc ids — O(contaminated), not O(grams).
    // Near-dups of benchmark docs planted by the synthetic corpus's dup
    // structure are exactly what the overlap catches.
    Query("tx_decontaminate",
      s"""WITH tk AS (SELECT doc_id, lang, source, n_chars,
                 $SqlToks AS toks FROM documents),
          grams AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS gs
               FROM tk WHERE len(toks) >= 3),
          bgram AS (SELECT DISTINCT unnest(gs) AS gram FROM grams
                    WHERE doc_id % 97 = 0),
          bad AS (SELECT DISTINCT tg.doc_id
                  FROM (SELECT doc_id, unnest(gs) AS gram FROM grams
                        WHERE doc_id % 97 <> 0) tg
                  JOIN bgram USING (gram))
          SELECT doc_id, lang, source, n_chars FROM documents
          WHERE doc_id % 97 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM bad)""")((s, dir) => {
      val n = 3
      val docs = t(s, dir, "documents")
      def gramsOf(text: Column): Column = wordGrams(text)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val benchGrams = bench
        .select(explode(gramsOf(col("text"))).as("gram")).distinct()
      val contaminated = train
        .select(col("doc_id"), explode(gramsOf(col("text"))).as("gram"))
        .join(broadcast(benchGrams), "gram")
        .select("doc_id").distinct()
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // Unigram language-model scoring — the perplexity-style quality filter
    // (CCNet/Gopher shape: score each doc by its mean token log-prob under
    // a corpus LM; degenerate/rare-token docs score low and get dropped).
    // Two-pass plan: (1) corpus unigram counts — a partial-aggable
    // groupBy over exploded tokens; (2) tokens re-join their counts and
    // fold per-doc. The count join is a wide shuffle O(corpus tokens) —
    // inherent to LM scoring (at web scale the vocab is too big to
    // broadcast; the 1-row total IS broadcast). Per-token log-probs are
    // rounded to 6dp and summed in DECIMAL, so the fold is shuffle-order
    // independent and the oracle hash-matches (the dsum rule).
    Query("tx_unigram_lm",
      s"""WITH tok AS (SELECT doc_id, unnest($SqlToks) AS tok FROM documents),
          c AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
          tt AS (SELECT COUNT(*) AS tot FROM tok),
          lp AS (SELECT doc_id,
                   CAST(round(log2(CAST(c AS DOUBLE) / tot), 6)
                     AS DECIMAL(18,6)) AS lp
                 FROM tok JOIN c USING (tok) CROSS JOIN tt)
          SELECT doc_id, COUNT(*) AS n_tokens,
            CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_logprob
          FROM lp GROUP BY doc_id""")((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val counts = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = tok.agg(count(lit(1)).as("tot"))
      tok.join(counts, "tok").crossJoin(broadcast(total))
        .withColumn("lp",
          round(log2(col("c").cast(DoubleType) / col("tot")), 6)
            .cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lp")).cast(DoubleType).as("sum_lp"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sum_lp") / col("n_tokens")).as("avg_logprob"))
    }),

    // PII redaction — the scrub pass pipelines run before training data
    // leaves quarantine: emails and phone-shaped numbers replaced with
    // typed placeholders, with per-doc match counts for audit. Pure
    // per-row codegen'd regexes (no UDF, no shuffle at all); patterns kept
    // to the RE2-compatible subset so the oracle runs them verbatim.
    Query("tx_pii_scrub",
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{4}'))
             AS INT) AS n_phones,
           regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{4}',
             '<PHONE>', 'g') AS scrubbed
         FROM documents""")((s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{4}"
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(phone)).as("n_phones"),
        regexp_replace(
          regexp_replace(col("text"), email, "<EMAIL>"),
          phone, "<PHONE>").as("scrubbed"))
    }),

    // Boilerplate detection (the RefinedWeb/CCNet repeated-n-gram signal):
    // per doc, the fraction of its distinct 3-grams that occur in >= 5
    // docs corpus-wide — high fractions mark template/boilerplate text a
    // quality gate drops. Same gram machinery as decontamination; the
    // frequent-gram set is bounded by how much boilerplate exists, so it
    // broadcasts (AQE falls back to a shuffle join if a corpus proves
    // otherwise); per-doc aggregation is one count pair, no FP until the
    // final division.
    Query("tx_boilerplate_frac",
      s"""WITH tk AS (SELECT doc_id, $SqlToks AS toks FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                    AS gram
                FROM tk WHERE len(toks) >= 3),
          f AS (SELECT gram FROM
                  (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
                WHERE df >= 5)
          SELECT g.doc_id, COUNT(*) AS n_grams,
            COUNT(f.gram) AS n_frequent,
            CAST(COUNT(f.gram) AS DOUBLE) / COUNT(*) AS boiler_frac
          FROM g LEFT JOIN f ON g.gram = f.gram
          GROUP BY g.doc_id""")((s, dir) => {
      val docGrams = t(s, dir, "documents")
        .select(col("doc_id"), explode(wordGrams(col("text"))).as("gram"))
      val freq = docGrams.groupBy("gram")
        .agg(count(lit(1)).as("df")).filter(col("df") >= 5)
        .select(col("gram"), lit(1).as("is_freq"))
      docGrams.join(broadcast(freq), Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(col("is_freq")).as("n_frequent"))
        .select(col("doc_id"), col("n_grams"), col("n_frequent"),
          (col("n_frequent").cast(DoubleType) / col("n_grams"))
            .as("boiler_frac"))
    }),

    // The preprocessing pipeline composed end-to-end in ONE declarative
    // plan — exact-dedup survivors → quality gate → deterministic split —
    // the "a user runs their whole corpus prep as one query" surface.
    // Catalyst fuses the three stages: one hash-keyed window for dedup,
    // then per-row codegen for quality + split; nothing materializes
    // between stages.
    Query("tx_pipeline_e2e",
      s"""WITH canon AS (
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
              FROM documents) WHERE keep),
          base AS (
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len($SqlToks) AS BIGINT) AS n_tokens,
              CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
                AS BIGINT) AS n_alpha
            FROM canon),
          scored AS (
            SELECT doc_id,
              round(
                least(n_chars / 200.0, 1.0) * 0.3 +
                (CASE WHEN n_tokens > 0
                       AND CAST(n_chars AS DOUBLE) / n_tokens >= 3
                       AND CAST(n_chars AS DOUBLE) / n_tokens <= 10
                      THEN 1.0 ELSE 0.5 END) * 0.3 +
                (CASE WHEN n_chars > 0
                      THEN CAST(n_alpha AS DOUBLE) / n_chars
                      ELSE 0.0 END) * 0.4, 6) AS quality
            FROM base)
          SELECT doc_id, quality,
            CASE WHEN b < 80 THEN 'train'
                 WHEN b < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, quality,
                  CAST('0x' || substring(
                    md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6)
                    AS BIGINT) % 100 AS b
                FROM scored WHERE quality >= 0.5)""")((s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      val bucket = (conv(substring(md5(
        concat(lit("split:"), col("doc_id").cast(StringType))), 1, 6),
        16, 10).cast(LongType) % 100)
      t(s, dir, "documents")
        .withColumn("canonical", col("doc_id") === min("doc_id").over(w))
        .filter(col("canonical"))
        .withColumn("quality", qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .withColumn("split",
          when(bucket < 80, lit("train"))
            .when(bucket < 90, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("quality"), col("split"))
    }),

    // The realistic (CCNet/Gopher-shaped) prep pipeline: near-dup clusters
    // via MinHash-LSH bucket-min, highest-quality survivor per cluster,
    // then the deterministic split — same shuffles as dd_keep_best plus
    // per-row codegen for the split; the whole corpus prep is one plan.
    Query("tx_pipeline_neardup",
      s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2),
          bmin AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY band, band_key) AS bucket_min
            FROM bands),
          clusters AS (
            SELECT doc_id, MIN(bucket_min) AS cluster_id
            FROM bmin GROUP BY doc_id),
          q AS (
            SELECT doc_id,
              round(
                least(CAST(length(text) AS BIGINT) / 200.0, 1.0) * 0.3 +
                (CASE WHEN len($SqlToks) > 0
                       AND CAST(length(text) AS DOUBLE) / len($SqlToks) >= 3
                       AND CAST(length(text) AS DOUBLE) / len($SqlToks) <= 10
                      THEN 1.0 ELSE 0.5 END) * 0.3 +
                (CASE WHEN length(text) > 0
                      THEN CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
                             AS DOUBLE) / length(text)
                      ELSE 0.0 END) * 0.4, 6) AS quality
            FROM documents),
          kept AS (
            SELECT c.doc_id, c.cluster_id, q.quality,
              FIRST_VALUE(c.doc_id) OVER (PARTITION BY cluster_id
                ORDER BY quality DESC, c.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS keep_id
            FROM clusters c JOIN q ON c.doc_id = q.doc_id)
          SELECT doc_id, cluster_id, quality,
            CASE WHEN b < 80 THEN 'train'
                 WHEN b < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, cluster_id, quality,
                  CAST('0x' || substring(
                    md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6)
                    AS BIGINT) % 100 AS b
                FROM kept WHERE doc_id = keep_id)""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val bands = minhashBands(docs)
      val wb = Window.partitionBy("band", "band_key")
      val clusters = bands
        .withColumn("bucket_min", min("doc_id").over(wb))
        .groupBy("doc_id").agg(min("bucket_min").as("cluster_id"))
      val scored = docs.select(col("doc_id"),
        qualityScore(col("text")).as("quality"))
      val wc = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val bucket = (conv(substring(md5(
        concat(lit("split:"), col("doc_id").cast(StringType))), 1, 6),
        16, 10).cast(LongType) % 100)
      clusters.join(scored, "doc_id")
        .withColumn("keep_id", first("doc_id").over(wc))
        .filter(col("doc_id") === col("keep_id"))
        .withColumn("split",
          when(bucket < 80, lit("train"))
            .when(bucket < 90, lit("val"))
            .otherwise(lit("test")))
        .select(col("doc_id"), col("cluster_id"), col("quality"),
          col("split"))
    }),

    // T1 with RU stemming via the native Catalyst expression. Hash-checked:
    // the light RU suffix-strip table is encoded as a DuckDB lambda in the
    // oracle (longest-match-first over the same suffix list), so the native
    // TokenizeStem expression is verified end-to-end, not rows-only.
    Query("t1_tokenize_stem",
      s"""SELECT doc_id,
            array_to_string(
              list_sort(list_distinct(list_transform(
                list_filter($SqlToks,
                  t -> length(t) >= 2 AND NOT list_contains($SqlStop, t)),
                t -> ${sqlRuStem("t")}))), '|') AS stemmed_lexemes
          FROM documents""")((s, dir) => {
      graft.catalyst.TokenizeStem.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(graft.catalyst.TokenizeStem.tokenizeRu(col("text")), "|")
            .as("stemmed_lexemes"))
    }),

    // Exact dedup — content-hash grouping, canonical id = min id per hash.
    Query("dd_exact",
      """SELECT doc_id, md5(text) AS content_hash,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         FROM documents""")((s, dir) => {
      val w = Window.partitionBy("content_hash")
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
        .withColumn("canonical_id", min("doc_id").over(w))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
    }),

    // Fingerprint dedup — order-insensitive bag-of-words hash: catches
    // shuffled-word duplicates exact hashing misses.
    Query("dd_fingerprint",
      s"""WITH fp AS (
            SELECT doc_id,
              md5(array_to_string(list_sort($SqlToks), ' ')) AS fp
            FROM documents)
          SELECT doc_id, fp,
            MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
            doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup
          FROM fp""")((s, dir) => {
      val w = Window.partitionBy("fp")
      t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .withColumn("canonical_id", min("doc_id").over(w))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
    }),

    // MinHash + LSH banding — 16 hashes (md5 keyed by hash index), 4 bands
    // of 4; near-dup candidates = distinct pairs sharing any band key.
    // INCREMENTAL corpus dedup — the 100 TB ingest shape: the existing
    // corpus's MinHash band signatures are PERSISTED (a txlog table, ~4
    // rows/doc), so deduping a fresh crawl batch costs one signature
    // pass over the BATCH plus a band-key join against the index —
    // the corpus itself is never re-tokenized, never re-hashed, never
    // even read. Survivors' bands append to the index in the same
    // operation (the in-query require pins the index growth), so
    // tomorrow's batch dedups against today's admissions too. Batch
    // docs colliding with ANY corpus band are rejected; the oracle
    // replays both sides' banding relationally.
    Query("dd_incremental_lsh",
      s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2)
          SELECT d.doc_id,
                 d.doc_id NOT IN (
                   SELECT DISTINCT n.doc_id
                   FROM bands n JOIN bands o
                     ON n.band = o.band AND n.band_key = o.band_key
                   WHERE n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0)
                 AS admitted
          FROM documents d
          WHERE d.doc_id % 3 = 0""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 3 =!= 0)
      val fresh = docs.filter(col("doc_id") % 3 === 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft-incdd")
      val idx = graft.sources.TxLogTable(s,
        tmp.resolve("band_idx").toString)
      // one-time index build (in production: maintained by every ingest)
      idx.commit(statelessBands(existing), overwrite = true)
      val bandSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("band_key",
          org.apache.spark.sql.types.StringType)))
      // manifest-only row counts: the growth require costs zero jobs
      // on the index side (footer stats are already in the manifest)
      val idxBefore = idx.metaRowCount().getOrElse(0L)
      val freshBands = statelessBands(fresh)
      val dupIds = freshBands.join(
        idx.snapshot(bandSchema)
          .select(col("band").as("b2"), col("band_key").as("k2")),
        col("band") === col("b2") && col("band_key") === col("k2"),
        "left_semi").select("doc_id").distinct()
      val admitted = fresh.join(dupIds, Seq("doc_id"), "left_anti")
      // close the loop: admitted docs' signatures enter the index so the
      // NEXT batch dedups against them without recomputation (the test
      // corpus is near-dup-saturated — typically every batch doc collides
      // and the append is legitimately empty, so pin EXACT growth)
      val admittedBands = statelessBands(admitted).cache()
      idx.commit(admittedBands, overwrite = false)
      require(idx.metaRowCount().contains(
        idxBefore + admittedBands.count()),
        "index must grow by exactly the admitted batch's signatures")
      // the DECISION table — one row per batch doc, hash-checked, so the
      // reject path is proven too, not just the (possibly empty) admit set
      fresh.select(col("doc_id")).join(
          dupIds.withColumn("dup", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(!col("dup"), lit(true)).as("admitted"))
    }),

    Query("dd_minhash_lsh",
      s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2)
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id""")((s, dir) => {
      val bands = minhashBands(t(s, dir, "documents"))
      val a = bands.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      val b = bands.select(col("band").as("band_b"),
        col("band_key").as("band_key_b"), col("doc_id").as("doc_b"))
      a.join(b, col("band") === col("band_b") &&
          col("band_key") === col("band_key_b") &&
          col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    }),

    // Blocked n-gram Jaccard — token-set similarity within a `source` block;
    // intersection via shared-token join, union by inclusion–exclusion.
    //
    // Measured alternatives at sf0.1 (97%-near-dup corpus, ~314k output
    // pairs), all REJECTED:
    //  - AllPairs/PPJoin-style prefix filtering (rarest-first token order,
    //    candidate join on the first floor(n/2)+1 tokens, exact verify):
    //    8.2s vs 4.4s. Pruning buys nothing when candidates ≈ true pairs —
    //    on a dup-heavy corpus nearly every within-block pair qualifies, so
    //    the df ranking + per-pair verify is pure overhead.
    //  - array_intersect on pre-grouped token arrays per pair: 4× slower
    //    (per-call hash allocation dominates).
    //  - round 3 revisit of that rejection after `sorted_intersect_count`
    //    removed the per-pair allocation (it DID halve dd_jaccard_lsh's
    //    verify): still no win here — 4.25 s vs 4.09 s. The all-pairs form
    //    verifies 4× more candidates than the LSH gate, and assembling two
    //    ~50-element string arrays per joined row costs what the hash set
    //    used to; worse, its broadcast of whole blocks cannot scale. The
    //    token join stays.
    // The direct join materializes the intersection mass once (11.2M rows at
    // sf0.1) with no per-pair setup — where output pairs are a large
    // fraction of candidates this is the optimum; where they are NOT
    // (realistic low-dup corpora at 100 TB), use dd_jaccard_lsh below.
    // Body lives in operators.Dedup.exactJaccardBaseline — the facade
    // positions it as the oracle/recall-measurement twin; dedupNearExact
    // is the named default surface.
    Query("dd_jaccard",
      s"""WITH toksd AS (
            SELECT DISTINCT doc_id, source, unnest($SqlToks) AS tok
            FROM documents),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM toksd GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM toksd a JOIN toksd b
              ON a.source = b.source AND a.tok = b.tok
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b,
                 CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
          FROM inter
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b
          WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5""")((s, dir) =>
      graft.operators.Dedup.exactJaccardBaseline(t(s, dir, "documents"))),

    // LSH-gated exact Jaccard — the 100 TB scale path for dd_jaccard's
    // semantics: MinHash-LSH proposes candidates (probabilistic recall — the
    // documented trade; at sf0.01 it recovers 3162 of dd_jaccard's 4439
    // pairs), exact verification scores only those pairs. The `source` block
    // key is part of the BAND-join key, so cross-block pairs are never
    // materialized, and verify cost is O(|candidates|), not O(shared
    // tokens). Own oracle replays the banding.
    Query("dd_jaccard_lsh", jaccardLshOracle(rowsPer = 4))((s, dir) =>
      jaccardLshOf(t(s, dir, "documents"))),

    // The recall knob demonstrated: same gated-verify pipeline over 8×2
    // banding. Splitting the same 16 hashes into 8 bands of 2 raises the
    // candidate probability at s=0.5 from 23% to 92% — measured at sf0.01:
    // 4326 of dd_jaccard's 4439 pairs recovered (97.5%) vs 3162 (71%) for
    // the 4×4 variant. The IVF nprobe=2 trade, applied to text dedup.
    // Cached at definition (the pair self-join reads the banding twice).
    // Delegates to the facade's default pair surface (same 8×2 pipeline).
    Query("dd_jaccard_lsh_8x2", jaccardLshOracle(rowsPer = 2))((s, dir) =>
      graft.operators.Dedup.nearDupPairs(t(s, dir, "documents"))),

    // The facade's DEFAULT dedup surface end-to-end: corpus minus the
    // higher-id member of every verified near-dup pair (greedy min-id
    // survivor). Oracle replays banding + verify + anti-join, so the whole
    // default path a user gets from Dedup.dedupNearExact is hash-checked.
    Query("dd_dedup_near_exact",
      s"""SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
          FROM documents d
          WHERE d.doc_id NOT IN (
            SELECT doc_b FROM (${jaccardLshOracle(rowsPer = 2)}) p)""")((s, dir) =>
      graft.operators.Dedup.dedupNearExact(t(s, dir, "documents"))),

    // The SQL surface of the same operator: `CALL system.dedup_near`
    // reads a txlog catalog table, runs the identical LSH-gated dedup,
    // and materializes the surviving corpus as a fresh catalog table —
    // curation without leaving SQL. Same oracle as `dd_dedup_near_exact`:
    // the procedure path must be hash-identical to the library path.
    // the procedure path must replay to the same surviving corpus
    Query("sql_dedup_near",
      s"""SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
          FROM documents d
          WHERE d.doc_id NOT IN (
            SELECT doc_b FROM (${jaccardLshOracle(rowsPer = 2)}) p)""")((s, dir) => {
      EtlQueries.ensureCatalog(s)
      t(s, dir, "documents").createOrReplaceTempView("docs_dn_src")
      s.sql("DROP TABLE IF EXISTS graftcat.db.docs_dn")
      s.sql("DROP TABLE IF EXISTS graftcat.db.docs_dn_out")
      s.sql("CREATE TABLE graftcat.db.docs_dn USING txlog AS " +
        "SELECT * FROM docs_dn_src")
      val r = s.sql("CALL graftcat.system.dedup_near(" +
        "'db.docs_dn', 'db.docs_dn_out', 0.5)").collect().head
      require(r.getInt(0) == 1 && r.getLong(1) > 0,
        s"dedup_near must land one data commit in the dest: $r")
      s.sql("SELECT doc_id, text, lang, source, n_chars " +
        "FROM graftcat.db.docs_dn_out")
    }),

    // Real BPE tokenization: merges learned from the corpus (distributed
    // vocab aggregate, driver-side learn, broadcast apply). Hash-checked:
    // the oracle unrolls all learn rounds into generated SQL (see
    // bpeOracleSql) — the per-document encode needs no replay because
    // greedy lowest-rank application to an in-vocab word equals that
    // word's end-of-learning piece list.
    Query("tx_bpe_tokens", bpeOracleSql)((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.functions.Bpe.learnFromCorpus(docs, "text", BpeMerges)
      val enc = graft.functions.Bpe.encodeUdf(model)
      docs.select(col("doc_id"), enc(col("text")).as("pieces"))
        .select(col("doc_id"),
          // piece order is significant — joined as-is, not sorted
          array_join(col("pieces"), "|").as("bpe_pieces"),
          size(col("pieces")).cast(LongType).as("n_bpe_tokens"))
    }),

    // Winnowing fingerprint (rolling-hash document fingerprinting, the
    // MOSS scheme): hash every 8-char k-gram, take the minimum of each
    // 4-hash window, keep the sorted distinct minima — robust to local
    // edits. Native Catalyst expression: the composed higher-order-function
    // form re-evaluates the k-gram hash array inside the per-window lambda
    // (Catalyst cannot hoist subexpressions out of a LambdaFunction), i.e.
    // O(len·w) md5 calls per doc; the expression hashes each k-gram once.
    // Same oracle as the composed form; equivalence pinned in
    // WinnowFingerprintSpec.
    Query("dd_winnow_fingerprint",
      """WITH h AS (
           SELECT doc_id,
             list_transform(generate_series(1, greatest(length(text) - 7, 1)),
               i -> md5(substr(text, i, 8))) AS hs
           FROM documents)
         SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_transform(
             generate_series(1, greatest(len(hs) - 3, 1)),
             j -> list_min(hs[j:j+3])))), '|') AS fingerprints
         FROM h""")((s, dir) => {
      graft.catalyst.WinnowFingerprint.register(s)
      t(s, dir, "documents").select(col("doc_id"),
        graft.catalyst.WinnowFingerprint.winnow(col("text"))
          .as("fingerprints"))
    }),

    // MinHash clusters — the 100 TB output contract for high-duplication
    // corpora: pairwise candidates are O(cluster²) and explode on real data,
    // so the scale path assigns each doc a canonical id instead (min doc_id
    // over each of its LSH buckets — one deterministic label-propagation
    // step). Shuffle cost is O(docs × bands), never O(pairs).
    Query("dd_minhash_cluster",
      s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2),
          bmin AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY band, band_key) AS bucket_min
            FROM bands)
          SELECT doc_id, MIN(bucket_min) AS canonical_id,
                 doc_id <> MIN(bucket_min) AS is_dup
          FROM bmin GROUP BY doc_id""")((s, dir) => {
      val bands = minhashBands(t(s, dir, "documents"))
      val wb = Window.partitionBy("band", "band_key")
      bands
        .withColumn("bucket_min", min("doc_id").over(wb))
        .groupBy("doc_id")
        .agg(min("bucket_min").as("canonical_id"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
    }),

    // Survivor selection — the second half of dedup a training pipeline
    // actually needs: within each near-dup cluster keep the HIGHEST-QUALITY
    // copy, not the arbitrary lowest id (near-dups differ — a truncated or
    // mangled variant can carry the lower doc_id). Composition of the
    // cluster assignment and the quality scorer; deterministic because the
    // rounded quality is engine-reproducible (tx_quality's oracle) and ties
    // break on doc_id. Scale: same shuffles as dd_minhash_cluster plus one
    // cluster-keyed window.
    Query("dd_keep_best",
      s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2),
          bmin AS (
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY band, band_key) AS bucket_min
            FROM bands),
          clusters AS (
            SELECT doc_id, MIN(bucket_min) AS cluster_id
            FROM bmin GROUP BY doc_id),
          q AS (
            SELECT doc_id,
              round(
                least(CAST(length(text) AS BIGINT) / 200.0, 1.0) * 0.3 +
                (CASE WHEN len($SqlToks) > 0
                       AND CAST(length(text) AS DOUBLE) / len($SqlToks) >= 3
                       AND CAST(length(text) AS DOUBLE) / len($SqlToks) <= 10
                      THEN 1.0 ELSE 0.5 END) * 0.3 +
                (CASE WHEN length(text) > 0
                      THEN CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
                             AS DOUBLE) / length(text)
                      ELSE 0.0 END) * 0.4, 6) AS quality
            FROM documents)
          SELECT c.doc_id, c.cluster_id, q.quality,
            FIRST_VALUE(c.doc_id) OVER (PARTITION BY cluster_id
              ORDER BY quality DESC, c.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS keep_id,
            c.doc_id <> FIRST_VALUE(c.doc_id) OVER (PARTITION BY cluster_id
              ORDER BY quality DESC, c.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS is_pruned
          FROM clusters c JOIN q ON c.doc_id = q.doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val bands = minhashBands(docs)
      val wb = Window.partitionBy("band", "band_key")
      val clusters = bands
        .withColumn("bucket_min", min("doc_id").over(wb))
        .groupBy("doc_id")
        .agg(min("bucket_min").as("cluster_id"))
      val scored = docs.select(col("doc_id"),
        qualityScore(col("text")).as("quality"))
      val wc = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      clusters.join(scored, "doc_id")
        .withColumn("keep_id", first("doc_id").over(wc))
        .select(col("doc_id"), col("cluster_id"), col("quality"),
          col("keep_id"), (col("doc_id") =!= col("keep_id")).as("is_pruned"))
    }),

    // Transitive duplicate clusters: 3 rounds of min-label propagation
    // through LSH buckets — connects chains (a~b, b~c => {a,b,c}) that the
    // single-step bucket-min assignment cannot. Each round is join →
    // bucket-keyed window-min → node groupBy (one edge-sized shuffle, vs
    // two for the agg+join form — see LabelPropagation's scaladoc); round
    // count is fixed so an SQL oracle can replay it (3 rounds closes paths
    // of length 2^3 bucket hops, enough for this corpus; at scale you
    // iterate to a convergence check — dd_minhash_cluster_conv).
    Query("dd_minhash_cluster_cc",
      s"""WITH toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2),
          l0 AS (SELECT DISTINCT doc_id, doc_id AS lab FROM bands),
          b1 AS (SELECT b.band, b.band_key, MIN(l.lab) AS bucket_lab
                 FROM bands b JOIN l0 l USING (doc_id) GROUP BY 1, 2),
          l1 AS (SELECT b.doc_id, MIN(m.bucket_lab) AS lab
                 FROM bands b JOIN b1 m USING (band, band_key) GROUP BY 1),
          b2 AS (SELECT b.band, b.band_key, MIN(l.lab) AS bucket_lab
                 FROM bands b JOIN l1 l USING (doc_id) GROUP BY 1, 2),
          l2 AS (SELECT b.doc_id, MIN(m.bucket_lab) AS lab
                 FROM bands b JOIN b2 m USING (band, band_key) GROUP BY 1),
          b3 AS (SELECT b.band, b.band_key, MIN(l.lab) AS bucket_lab
                 FROM bands b JOIN l2 l USING (doc_id) GROUP BY 1, 2),
          l3 AS (SELECT b.doc_id, MIN(m.bucket_lab) AS lab
                 FROM bands b JOIN b3 m USING (band, band_key) GROUP BY 1)
          SELECT doc_id, lab AS cluster_id, doc_id <> lab AS is_dup
          FROM l3""")((s, dir) => {
      val bands = minhashBands(t(s, dir, "documents"))
      val wb = Window.partitionBy("band", "band_key")
      var labels = bands.select(col("doc_id")).distinct()
        .withColumn("lab", col("doc_id"))
      for (_ <- 1 to 3) {
        labels = bands
          .join(labels, "doc_id")
          .withColumn("bucket_lab", min("lab").over(wb))
          .groupBy("doc_id")
          .agg(min("bucket_lab").as("lab"))
      }
      labels.select(col("doc_id"), col("lab").as("cluster_id"))
        .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
    }),

    // Convergent transitive clusters — the production form of the above:
    // min-label propagation iterated to a FIXED POINT (per-round
    // localCheckpoint, early-stop probe), so chains of any length merge
    // fully regardless of graph diameter. Oracle = true connected
    // components of the doc–bucket graph via a recursive CTE.
    Query("dd_minhash_cluster_conv",
      s"""WITH RECURSIVE toks AS (
            SELECT DISTINCT doc_id, unnest($SqlToks) AS tok FROM documents),
          hs AS (
            SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || tok)) AS minh
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
            GROUP BY 1, 2),
          bands AS (
            SELECT doc_id, i // 4 AS band,
                   md5(string_agg(minh, ',' ORDER BY i)) AS band_key
            FROM hs GROUP BY 1, 2),
          nbr AS (
            SELECT DISTINCT e1.doc_id AS a, e2.doc_id AS b
            FROM bands e1 JOIN bands e2
              ON e1.band = e2.band AND e1.band_key = e2.band_key),
          reach(doc_id, lab) AS (
            SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM bands)
            UNION
            SELECT n.a, r.lab FROM reach r JOIN nbr n ON n.b = r.doc_id
            WHERE r.lab < n.a)
          SELECT doc_id, MIN(lab) AS cluster_id,
                 doc_id <> MIN(lab) AS is_dup
          FROM reach GROUP BY 1""")((s, dir) => {
      val bands = minhashBands(t(s, dir, "documents"))
      graft.operators.LabelPropagation
        .connectedComponents(bands, "doc_id", Seq("band", "band_key"))
        .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
    }),

    // SimHash — 16-bit signature; bit j is the sign of the frequency-weighted
    // vote of md5-hex-char parity at position j across all tokens.
    Query("dd_simhash",
      s"""WITH toks AS (
            SELECT doc_id, unnest($SqlToks) AS tok FROM documents),
          votes AS (
            SELECT doc_id, j,
              CAST(SUM(CASE WHEN ascii(substring(md5(tok), j + 1, 1)) % 2 = 1
                            THEN 1 ELSE -1 END) AS BIGINT) AS vote
            FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) g
            GROUP BY 1, 2)
          SELECT doc_id,
            CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY 1""")((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      toks
        .withColumn("j", explode(sequence(lit(0), lit(15))))
        .select(col("doc_id"), col("j"),
          when(expr("ascii(substring(md5(tok), j + 1, 1)) % 2") === 1, lit(1))
            .otherwise(lit(-1)).as("contrib"))
        .groupBy("doc_id", "j")
        .agg(sum("contrib").as("vote"))
        .groupBy("doc_id")
        .agg(sum(when(col("vote") > 0,
            expr("cast(pow(2, j) as bigint)")).otherwise(lit(0L)))
          .cast(LongType).as("simhash"))
    }))
}
