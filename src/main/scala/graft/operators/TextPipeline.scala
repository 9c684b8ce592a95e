package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text pipeline: deduplication (exact, n-gram Jaccard,
  * MinHash+LSH, SimHash), language ID, quality scoring, token counting,
  * document fingerprinting.
  *
  * Scale design (100 TB):
  *   - exact dedup = hash groupBy (one shuffle on the digest);
  *   - n-gram Jaccard = inverted shingle index join — never an O(n²)
  *     cross join; the shingle join only materializes co-shingled pairs;
  *   - MinHash+LSH = 128 permutations → 64 bands × 2 rows; candidate
  *     pairs come from band-bucket joins (tiny vs all-pairs) and are
  *     exact-verified on the shingle sets, so precision is exact and
  *     recall at j≥0.7 is 1-(1-0.7²)^64 ≈ 1 - 4e-19;
  *   - SimHash = 64-bit signature (md5-derived bits, engine-portable);
  *     pairs found by 8-bit chunk banding (pigeonhole: hamming ≤ 7 ⇒ some
  *     chunk equal), verified by popcount.
  */
object TextPipeline {

  /** tokens = lowercase whitespace split (same on both engines). */
  def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(lower(col("text")), " "))

  /** Distinct word 3-gram shingles per document, via the native codegen'd
    * [[graft.functions.ShingleArray]] expression. The higher-order-
    * function form below evaluates interpreted per element (~26 µs per
    * shingle — it dominated q_dedup_ngram's profile at 7+ s for a 5k-doc
    * corpus where the kernel loop runs in milliseconds); first-occurrence
    * order matches array_distinct, so the output is bit-identical
    * (equivalence spec). */
  def withShingles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    withTokens(docs).withColumn("shingles", ColumnBridge.column(
      graft.functions.ShingleArray(ColumnBridge.expression(col("toks")))))
  }

  /** The original column-expression shingling (kept for the equivalence
    * spec — [[withShingles]] must produce identical bits). */
  private[graft] def withShinglesExpr(docs: DataFrame): DataFrame =
    withTokens(docs).withColumn("shingles",
      expr("""CASE WHEN size(toks) >= 3 THEN
             |  array_distinct(transform(sequence(0, size(toks)-3),
             |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))
             |ELSE array() END""".stripMargin))

  /** Pins a signature or index frame that several consumers read.
    * localCheckpoint, not persist(): raw-row checkpoint blocks read
    * faster than the columnar cache for array-heavy rows, and downstream
    * stages keep AQE re-planning. Medians, localCheckpoint against
    * persist(), measured interleaved in one session: minhash 1.99 vs
    * 2.14 s, clusters 3.06 vs 3.42 s, ngram 2.55 vs 2.62 s. */
  private def pin(df: DataFrame): DataFrame = graft.Materialize.once(df)

  /** Exploded (doc_id, shingle) pairs. */
  private def shingleIndex(docs: DataFrame): DataFrame =
    withShingles(docs).select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Exact pairwise Jaccard via inverted shingle index; emits pairs with
    * jac >= minJac. Never materializes non-co-shingled pairs.
    *
    * Scale guard: shingles whose document frequency exceeds `maxDf` are
    * dropped from BOTH the index and the per-doc set sizes (the oracle
    * applies the identical cap) — one boilerplate shingle otherwise yields
    * df² candidate pairs, the classic hot-key blowup at 100 TB. The cap is
    * part of the operator's declared semantics: "Jaccard over shingles
    * with df <= maxDf". */
  def jaccardPairs(docs: DataFrame, minJac: Double, maxDf: Int = DefaultShingleMaxDf): DataFrame = {
    val sh0 = shingleIndex(docs)
    val hot = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    // Join/group on a 64-bit shingle hash, not the ~25-byte string: the
    // self-join shuffles once per (doc, shingle) row, and a fixed-width
    // key roughly halves the exchange and speeds the hash probes. A hash
    // collision could merge two shingles (P ≈ n²/2⁶⁴ — negligible, and
    // the oracle's exact-string compare would catch it).
    val sh = pin(sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")))
    val szs = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Codegen'd posting self-join per shingle (pair fanout bounded by the
    // df cap at ≤ maxDf²/2 per shingle).
    val pairs = sh.alias("x").join(sh.alias("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val out = pairs
      .join(szs.select(col("doc_id"), col("sz").as("sza")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(szs.select(col("doc_id"), col("sz").as("szb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("jac", col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jac") >= minJac)
      .select("doc_a", "doc_b", "jac")
    val outP = graft.Materialize.once(out) // eager: materialize while `sh` is cached
    sh.unpersist(false)
    outP
  }

  /** Hot-shingle document-frequency cap (applied on both engines). */
  val DefaultShingleMaxDf = 1000

  /** DuckDB mirror of the shingle CTEs (kept in one place).
    * @param maxDf mirror of [[jaccardPairs]]'s hot-shingle cap; None = uncapped
    *              (the MinHash verify path uses full shingle sets). */
  private def shingleCte(maxDf: Option[Int]): String = {
    val capFilter = maxDf
      .map(m => s"WHERE shingle NOT IN (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > $m)")
      .getOrElse("")
    s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       |       FROM tok, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) AS t(i)),
       |sh AS (SELECT doc_id, shingle FROM sh0 $capFilter),
       |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jacs AS (SELECT doc_a, doc_b,
       |           inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
       |         FROM pairs JOIN szs sa ON doc_a = sa.doc_id
       |                    JOIN szs sb ON doc_b = sb.doc_id)""".stripMargin
  }

  /** MinHash signature permutation constants (source of truth lives with
    * the native kernel, [[graft.functions.MinhashKernel]]). */
  val MinhashPerms: Seq[(Long, Long)] = graft.functions.MinhashKernel.Perms.toSeq
  val MersennePrime: Long = graft.functions.MinhashKernel.MersennePrime

  /** Add a 128-int minhash signature column from `shingles` via the
    * native codegen'd [[graft.functions.MinhashSignature]] expression —
    * one static-kernel call per row over in-place UTF8String slices, no
    * UDF encoder boundary (bit-identical to the expression form below:
    * murmur3 seed 42 ≡ Spark `hash()`, pinned by the equivalence spec). */
  def withMinhash(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    docs.withColumn("sig", ColumnBridge.column(
      graft.functions.MinhashSignature(ColumnBridge.expression(col("shingles")))))
  }

  /** The original column-expression signature (kept for the equivalence
    * spec test — [[withMinhash]] must produce identical bits). */
  private[graft] def withMinhashExpr(docs: DataFrame): DataFrame = {
    val permArr = MinhashPerms.map { case (a, b) => s"struct(${a}L as a, ${b}L as b)" }
      .mkString("array(", ", ", ")")
    docs.withColumn("sig",
      expr(s"""transform($permArr, pm ->
              |  array_min(transform(shingles, sh ->
              |    pmod(pm.a * pmod(hash(sh), ${MersennePrime}L) + pm.b, ${MersennePrime}L))))""".stripMargin))
  }

  /** Max docs sharing one (band, bhash) bucket before the bucket is dropped
    * — the band-join analog of [[DefaultShingleMaxDf]]. A degenerate bucket
    * (near-empty docs hashing identically) is O(n²) in the self-join; a cap
    * of 1000 bounds any bucket to ~500k candidate pairs while leaving real
    * near-dup buckets (tiny) untouched. Pairs dropped here are still found
    * through any OTHER band the pair shares — with 64 bands, a true near-dup
    * pair sits in many buckets, so only corpus-degenerate signatures lose
    * recall, and those are exactly the ones that would melt the cluster. */
  val BandBucketCap = 1000

  /** LSH candidate pairs (64 bands × 2 rows) exact-verified by Jaccard on
    * the shingle sets. Band buckets larger than [[BandBucketCap]] are
    * dropped before the self-join (skew guard at 100 TB), and counted in
    * [[graft.SkewCaps.hits]]. */
  def minhashDupPairs(docs: DataFrame, minJac: Double): DataFrame = {
    val sigs = pin(withMinhash(withShingles(docs).filter(size(col("shingles")) > 0))
      .select(col("doc_id"), col("shingles"), col("sig")))
    val bands0 = sigs.select(col("doc_id"),
        posexplode(expr("transform(sequence(0, 63), j -> hash(sig[2*j], sig[2*j+1], j))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bhash")
    val hot = bands0.groupBy("band", "bhash").agg(count(lit(1)).as("bn"))
      .filter(graft.SkewCaps.counted(docs.sparkSession, graft.SkewCaps.BandBucket)(col("bn") > BandBucketCap))
      .select("band", "bhash")
    val bands = bands0.join(broadcast(hot), Seq("band", "bhash"), "left_anti")
    val cand = bands.alias("x")
      .join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val withSets = cand
      .join(sigs.select(col("doc_id"), col("shingles").as("sha")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sigs.select(col("doc_id"), col("shingles").as("shb")), col("doc_b") === col("doc_id")).drop("doc_id")
    val out = withSets
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("jac", col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= minJac)
      .select("doc_a", "doc_b", "jac")
    val outP = graft.Materialize.once(out) // eager: materialize while `sigs` is cached
    sigs.unpersist(false)
    outP
  }

  /** Near-dup cluster canonicalization — the keep-one step a training
    * pipeline runs after candidate generation: MinHash dup pairs →
    * connected components (min-id propagation over the dup graph) →
    * canonical = the smallest doc_id of each cluster. Returns one row per
    * document that HAS a near-dup (singletons keep themselves trivially
    * and are not emitted): (doc_id, canonical_id, keep). Scale shape:
    * the pair graph is tiny relative to the corpus (only near-dups), and
    * CC is the bounded min-propagation of [[graft.graph.GraphAlgos]] —
    * dup clusters are shallow, so few iterations converge. */
  def dedupClusters(docs: DataFrame, minJac: Double): DataFrame = {
    val pairs = minhashDupPairs(docs, minJac).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val verts = edges.select(col("src").as("id")).distinct()
    graft.graph.GraphAlgos.connectedComponents(verts, edges, maxIters = 10)
      .select(col("id").as("doc_id"), col("comp").as("canonical_id"),
        (col("id") === col("comp")).as("keep"))
  }

  /** Engine-portable SimHash signature: 8 chunk values (0..255), one per
    * 8-bit band of the 64-bit simhash. Per-token bits come from the md5 hex
    * digest (bit b = bit b%4 of hex digit b/4), so DuckDB can replay the
    * identical signature — md5 is the only hash both engines share.
    * Bit b of the signature = 1 iff Σ_tokens (2·bit_b(md5(tok)) − 1) > 0
    * (token multiplicity counts). Computed by the
    * [[graft.functions.TextFunctions.simhashMd5Chunks]] JVM loop — the
    * identical definition as a column-expression tree evaluates ~20×
    * slower (HOF lambdas interpret per element); the hamming verify and
    * banding below stay pure column expressions. */

  /** SimHash near-dup pairs: 8-chunk banding + hamming verify.
    * Pigeonhole: 8 chunks guarantee a shared chunk for hamming <= 7, so
    * every pair with hamming <= maxHamming (<= 7) is found — banding
    * recall is exact, not probabilistic. */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7, "8-chunk banding only guarantees recall for hamming <= 7")
    TextFunctions.register(docs.sparkSession)
    val sigs = pin(withTokens(docs)
      .withColumn("sig", callUDF("simhash_md5_chunks", col("toks")))
      .select("doc_id", "sig"))
    // Pack the 8 chunk bytes into ONE long: candidate rows through the
    // band join are then (doc, doc, long, long) instead of two 8-element
    // arrays, and the hamming verify is a single codegen'd bit_count(xor)
    // rather than a higher-order fold. The dedupe (a pair matching in
    // several chunks) runs AFTER the hamming filter, on survivors only —
    // the pre-filter candidate stream is the expensive part at scale.
    val packed = sigs.withColumn("psig",
      expr("aggregate(transform(sequence(0, 7), i -> shiftleft(cast(sig[i] as bigint), i * 8)), 0L, (a, x) -> a | x)"))
    val chunks = packed.select(col("doc_id"), col("psig"), posexplode(col("sig")))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cval")
    val out = chunks.alias("x")
      .join(chunks.alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.cval") === col("y.cval")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.psig").bitwiseXOR(col("y.psig"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("doc_a", "doc_b", "hamming")
    val outP = graft.Materialize.once(out)
    sigs.unpersist(false)
    outP
  }

  private val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "para", "en"))

  val all: Seq[Q] = Seq(

    // ---- exact dedup: hash groupBy over a dup-injected view ----
    Q("q_dedup_exact",
      """WITH all_docs AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 100 = 0)
        |SELECT md5(text) AS h, count(*) AS n FROM all_docs
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY h""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val injected = docs.select("text")
        .union(docs.filter(col("doc_id") % 100 === 0).select("text"))
      injected.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).orderBy("h")
    },

    // ---- n-gram Jaccard near-dup pairs (inverted shingle index) ----
    Q("q_dedup_ngram",
      s"""${shingleCte(Some(DefaultShingleMaxDf))}
         |SELECT doc_a, doc_b, jac FROM jacs WHERE jac >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      jaccardPairs(Tables.documents(s, d), 0.5).orderBy("doc_a", "doc_b")
    },

    // ---- benchmark decontamination: training docs sharing any 8-gram
    //      with the eval set (the pre-training hygiene pass that drops
    //      documents contaminated by benchmark data). Scale shape: the
    //      eval set is SMALL by definition — its distinct grams broadcast;
    //      the training corpus explodes grams once and the only shuffle
    //      is the per-doc distinct-hit count. Docs under 8 tokens have no
    //      gram and cannot be contaminated. ----
    Q("q_decontaminate",
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |trg AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        |  FROM tok, UNNEST(generate_series(1, greatest(len(t)-7, 0))) AS u(i)
        |  WHERE source <> 'src0'),
        |evg AS (
        |  SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
        |  FROM tok, UNNEST(generate_series(1, greatest(len(t)-7, 0))) AS u(i)
        |  WHERE source = 'src0')
        |SELECT doc_id, count(DISTINCT g)::BIGINT AS n_hits
        |FROM trg JOIN evg USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      def grams(df: DataFrame): DataFrame = df
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("i", explode(
          when(size(col("t")) >= 8, sequence(lit(1), size(col("t")) - 7))
            .otherwise(array().cast("array<int>"))))
        .select(col("doc_id"), array_join(slice(col("t"), col("i"), lit(8)), " ").as("g"))
      val evalGrams = grams(docs.filter(col("source") === "src0"))
        .select("g").distinct()
      grams(docs.filter(col("source") =!= "src0"))
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_hits"))
        .orderBy("doc_id")
    },

    // ---- MinHash + LSH with exact verification ----
    Q("q_dedup_minhash",
      s"""${shingleCte(None)}
         |SELECT doc_a, doc_b, jac FROM jacs WHERE jac >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      minhashDupPairs(Tables.documents(s, d), 0.7).orderBy("doc_a", "doc_b")
    },

    // ---- keep-one canonicalization over the near-dup graph: clusters =
    //      min-reachability over the verified MinHash pairs (the oracle
    //      replays the same pair generation, then a recursive CTE) ----
    Q("q_dedup_clusters",
      s"""${shingleCte(None).replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dup AS (SELECT doc_a, doc_b FROM jacs WHERE jac >= 0.7),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM dup
         |      UNION ALL SELECT doc_b, doc_a FROM dup),
         |v AS (SELECT DISTINCT src AS id FROM e),
         |reach(id, comp, d) AS (
         |  SELECT id, id, 0 FROM v
         |  UNION ALL
         |  SELECT e.dst, reach.comp, reach.d + 1
         |  FROM reach JOIN e ON e.src = reach.id WHERE reach.d < 8)
         |SELECT id AS doc_id, min(comp) AS canonical_id,
         |  (id = min(comp)) AS keep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (s, d) =>
      dedupClusters(Tables.documents(s, d), 0.7).orderBy("doc_id")
    },

    // ---- SimHash near-dup pairs (signature-specific; no SQL oracle) ----
    // ---- simhash near-dup: DuckDB replays the identical md5-derived
    //      signature, banding, and hamming verify ----
    Q("q_dedup_simhash",
      """WITH tok AS (SELECT doc_id,
        |    list_transform(string_split(lower(text), ' '), t -> md5(t)) AS md5s
        |  FROM documents),
        |sigs AS (SELECT doc_id,
        |  list_transform(range(0, 8), c ->
        |    CAST(list_sum(list_transform(range(0, 8), k ->
        |      CASE WHEN COALESCE(list_sum(list_transform(md5s, h ->
        |        2 * (((strpos('0123456789abcdef', h[(c*8+k) // 4 + 1]) - 1)
        |              >> ((c*8+k) % 4)) & 1) - 1)), 0) > 0
        |      THEN (1 << k) ELSE 0 END)) AS INT)) AS sig
        |  FROM tok),
        |chunks AS (SELECT doc_id, sig, t.c AS chunk, sig[t.c+1] AS cval
        |           FROM sigs, UNNEST(range(0,8)) AS t(c)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                x.sig AS siga, y.sig AS sigb
        |         FROM chunks x JOIN chunks y
        |           ON x.chunk = y.chunk AND x.cval = y.cval AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum(list_transform(range(0,8),
        |      c -> bit_count(xor(siga[c+1], sigb[c+1])))) AS BIGINT) AS hamming
        |  FROM cand)
        |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      simhashDupPairs(Tables.documents(s, d), maxHamming = 6).orderBy("doc_a", "doc_b")
    },

    // ---- PII redaction (email/URL scrub — the masking pass a training
    //      pipeline runs before tokenization; both engines apply the same
    //      RE2-and-Java-compatible patterns). The synthetic docs carry no
    //      contact strings, so each row is salted with a derived
    //      email+URL suffix to make the redaction data-dependent. ----
    Q("q_text_redact",
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g') AS clean,
        |  len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |  len(regexp_extract_all(raw, 'https?://[^ ]+'))::BIGINT AS n_url
        |FROM (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com via https://ex.com/p/' || doc_id || ' end' AS raw
        |  FROM documents WHERE doc_id < 100)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val urlRe = "https?://[^ ]+"
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .withColumn("raw", concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com via https://ex.com/p/"), col("doc_id"), lit(" end")))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"), urlRe, "<URL>")
            .as("clean"),
          regexp_count(col("raw"), lit(emailRe)).cast("bigint").as("n_email"),
          regexp_count(col("raw"), lit(urlRe)).cast("bigint").as("n_url"))
        .orderBy("doc_id")
    },

    // ---- language ID by stopword voting (deterministic tie-break) ----
    Q("q_text_langid", {
      val scores = langStopwords.map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, x -> list_contains($lst, x))) AS s_$l"
      }.mkString(",\n  ")
      s"""WITH tok AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
         |sc AS (SELECT doc_id, lang, $scores FROM tok)
         |SELECT lang, CASE
         |  WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
         |  WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |  WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
         |  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,
         |  count(*) AS n
         |FROM sc GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
    }) { (s, d) =>
      val toks = withTokens(Tables.documents(s, d))
      val scored = langStopwords.foldLeft(toks) { case (df, (l, ws)) =>
        val lst = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
        df.withColumn(s"s_$l", expr(s"size(filter(toks, x -> array_contains($lst, x)))"))
      }
      scored.withColumn("pred_lang",
          when(greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")) === 0, "unknown")
            .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
            .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
            .when(col("s_fr") >= col("s_es"), "fr")
            .otherwise("es"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },

    // ---- quality scoring (length / uniqueness / stopword density) ----
    Q("q_text_quality",
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks, n_chars FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_uniq,
        |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS uniq_ratio,
        |  round(n_chars::DOUBLE / len(toks), 4) AS avg_tok_len,
        |  round(least(len(toks) / 100.0, 1.0) * 0.5
        |        + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.5, 4) AS quality
        |FROM t WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, d) =>
      withTokens(Tables.documents(s, d)).filter(col("doc_id") < 100)
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_uniq"),
          round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 4).as("uniq_ratio"),
          round(col("n_chars").cast("double") / size(col("toks")), 4).as("avg_tok_len"),
          round(least(size(col("toks")) / 100.0, lit(1.0)) * 0.5
            + (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))) * 0.5, 4).as("quality"))
        .orderBy("doc_id")
    },

    // ---- token counting: whitespace + word-regex counts per source ----
    // ---- document chunking: overlapping token windows, the context-
    //      window prep step of a training pipeline (beyond the reference —
    //      §"LLM-data-pipeline operators"). One narrow projection + one
    //      posexplode per doc: fully distributed, chunk count bounded by
    //      n_tokens/stride, no shuffle at all until a downstream groupBy. ----
    Q("q_text_chunk",
      """SELECT doc_id, start - 1 AS chunk_start,
        |  array_to_string(toks[start:least(start + 39, n)], ' ') AS chunk
        |FROM (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE doc_id < 40),
        |  (SELECT UNNEST(generate_series(1, 4000, 32)) AS start)
        |WHERE start <= n
        |ORDER BY doc_id, chunk_start""".stripMargin) { (s, d) =>
      // 40-token windows, stride 32 (8-token overlap)
      val toks = Tables.documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
      toks
        .withColumn("chunk_start", explode(sequence(lit(0), col("n") - 1, lit(32))))
        .select(col("doc_id"), col("chunk_start"),
          array_join(slice(col("toks"), col("chunk_start") + 1, lit(40)), " ").as("chunk"))
        .orderBy("doc_id", "chunk_start")
    },

    // (r1 hash-fail fix: DuckDB sum(INT) yields HUGEINT while Spark yields
    // BIGINT — the driver hashes the representation, so cast the oracle.)
    Q("q_text_tokens",
      """SELECT source,
        |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
        |  sum(len(regexp_extract_all(text, '[a-z0-9]+')))::BIGINT AS n_words,
        |  count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d).groupBy("source")
        .agg(
          sum(size(split(col("text"), " "))).as("n_tokens"),
          sum(expr("regexp_count(text, '[a-z0-9]+')")).as("n_words"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },

    // ---- repetition quality signals (Gopher §A.1.1-style filters over a
    //      single-line token corpus): top-token fraction, top-bigram
    //      fraction, duplicate-trigram fraction, and the keep/reject flag a
    //      training pipeline would gate on. Scale shape: every signal is a
    //      per-row column expression — max token multiplicity is the longest
    //      run in the SORTED token array (one O(n log n) aggregate fold per
    //      row), never an explode+groupBy — so the whole pass is a narrow
    //      projection with zero shuffles up to the determinism-required
    //      final ORDER BY. The keep gate tests the UNROUNDED ratios (both
    //      engines); rounding is display-only on the emitted fractions. ----
    Q("q_text_repetition",
      """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |             FROM documents WHERE doc_id < 100),
        |base AS (SELECT doc_id, len(toks) AS n_tokens FROM tok),
        |tu AS (SELECT doc_id, u.tok AS tok FROM tok, UNNEST(toks) AS u(tok)),
        |toptok AS (SELECT doc_id, max(c) AS top_tok FROM
        |  (SELECT doc_id, tok, count(*) AS c FROM tu GROUP BY 1, 2) GROUP BY 1),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |       FROM tok, UNNEST(generate_series(1, greatest(len(toks)-1, 0))) AS t(i)),
        |topbg AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM
        |  (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
        |tg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |       FROM tok, UNNEST(generate_series(1, greatest(len(toks)-2, 0))) AS t(i)),
        |tgs AS (SELECT doc_id, count(*) AS n_tg, count(DISTINCT g) AS n_uniq FROM tg GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |  round(top_tok::DOUBLE / b.n_tokens, 4) AS top_tok_frac,
        |  round(COALESCE(top_bg::DOUBLE / n_bg, 0), 4) AS top_bigram_frac,
        |  round(COALESCE(1 - n_uniq::DOUBLE / n_tg, 0), 4) AS dup_trigram_frac,
        |  (top_tok::DOUBLE / b.n_tokens <= 0.2
        |   AND COALESCE(top_bg::DOUBLE / n_bg, 0) <= 0.2
        |   AND COALESCE(1 - n_uniq::DOUBLE / n_tg, 0) <= 0.3) AS keep
        |FROM base b
        |LEFT JOIN toptok USING (doc_id) LEFT JOIN topbg USING (doc_id)
        |LEFT JOIN tgs USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // longest run in the sorted array = max element multiplicity;
      // a per-row fold, not an explode+groupBy (no shuffle at 100 TB)
      def maxRun(arr: String): String =
        s"""aggregate(array_sort($arr),
           |  struct(cast(null as string) as prev, 0 as run, 0 as best),
           |  (s, x) -> struct(x as prev,
           |    if(s.prev <=> x, s.run + 1, 1) as run,
           |    greatest(s.best, if(s.prev <=> x, s.run + 1, 1)) as best),
           |  s -> s.best)""".stripMargin
      def grams(n: Int): String = // token n-grams as strings, [] when too short
        s"""CASE WHEN size(toks) >= $n THEN
           |  transform(sequence(0, size(toks) - $n),
           |    i -> array_join(slice(toks, i + 1, $n), ' '))
           |ELSE array() END""".stripMargin
      withTokens(Tables.documents(s, d)).filter(col("doc_id") < 100)
        .withColumn("bgs", expr(grams(2)))
        .withColumn("tgs", expr(grams(3)))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          (expr(maxRun("toks")).cast("double") / size(col("toks"))).as("_tt"),
          coalesce(expr(maxRun("bgs")).cast("double") / nullif(size(col("bgs")).cast("double"), lit(0.0)), lit(0.0)).as("_tb"),
          coalesce(lit(1.0) - size(array_distinct(col("tgs"))).cast("double") / nullif(size(col("tgs")).cast("double"), lit(0.0)), lit(0.0)).as("_dt"))
        .select(
          col("doc_id"), col("n_tokens"),
          round(col("_tt"), 4).as("top_tok_frac"),
          round(col("_tb"), 4).as("top_bigram_frac"),
          round(col("_dt"), 4).as("dup_trigram_frac"),
          (col("_tt") <= 0.2 && col("_tb") <= 0.2 && col("_dt") <= 0.3).as("keep"))
        .orderBy("doc_id")
    },

    // ---- document fingerprint: digest of the sorted distinct token set ----
    Q("q_text_fingerprint",
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      withTokens(Tables.documents(s, d)).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(col("toks"))), " ")).as("fp"))
        .orderBy("doc_id")
    }
  )
}
