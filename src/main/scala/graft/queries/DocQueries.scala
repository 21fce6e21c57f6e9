package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import CrossSql._

/** Document-family queries: the text half of the dedup engine surfaced as
  * driver-checkable operators over `documents(doc_id, text, lang, source,
  * n_chars)`. Each query has a DuckDB oracle in [[DocQueries.oracleSql]]
  * computing the identical result (shared md5-based hash family, identical
  * integer arithmetic, explicit ORDER BY both sides).
  *
  * Operator lineage (SURVEY §2): shingling feeds H1/H3-style per-table
  * selection; q_minhash_* are the banded multi-table build (B1/B2);
  * q_lsh_pairs is the bucket equi-join (Q1/Q4); q_near_dup_pairs adds exact
  * verification (Q7); q_simhash* is H1 SimHash + banded Hamming probing;
  * q_substring_pairs is the suffix/seed-window pass (SURVEY §7.5).
  */
object DocQueries {

  private def q(spark: SparkSession, dir: String)(mkSql: => String): DataFrame =
    query(spark, dir, "documents")(mkSql)

  // ------------------------------------------------------------------
  // build/query split (see CodesCache): the shared derived relations —
  // shingle set and per-doc shingle arrays, minhash signatures, band keys,
  // simhash codes and band rows, substring windows and seeds — are each
  // materialized ONCE per (session, dir) and every query scans the view.
  // Without this, CTE inlining rebuilt the full md5 derivation chain under
  // every reference (q_simhash_pairs re-derived simhash codes ~10x: 11
  // documents.parquet scans in one plan). The DuckDB oracles keep the pure
  // WITH form — DuckDB materializes multi-referenced CTEs on its own.
  // ------------------------------------------------------------------

  private def shV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_sh",
      s"$sparkShingleCte\nSELECT doc_id, s FROM sh")

  /** Each doc's distinct shingles as one array `sh`, with its size `n`. */
  private def shSetsV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_shsets",
      s"SELECT doc_id, collect_list(s) AS sh, COUNT(*) AS n FROM ${shV(s, d)} GROUP BY doc_id")

  private def mhV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_mh",
      s"""WITH sh AS (SELECT doc_id, s FROM ${shV(s, d)}),
         |$sparkMhCteBody
         |SELECT doc_id, perm, minhash FROM mh""".stripMargin)

  /** The band rows `(doc_id, band_idx, band_key, keys)`: `keys` holds all
    * of the doc's band keys in band order, so a banded pair knows every band
    * it meets on ([[firstBandOfPair]]). */
  private def bandsV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_bands",
      s"""WITH mh AS (SELECT doc_id, perm, minhash FROM ${mhV(s, d)}),
         |$sparkBandsCteBody
         |SELECT doc_id, band_idx, band_key,
         |  transform(array_sort(collect_list(struct(band_idx, band_key)) OVER (PARTITION BY doc_id)), k -> k.band_key) AS keys
         |FROM bands""".stripMargin)

  /** The MinHash band self-join's pair filter on Spark: a pair joins once
    * per band whose keys it shares, and only the row of its first such band
    * is kept ([[CrossSql.firstBand]]), so the pairs need no DISTINCT. */
  private val firstBandOfPair: String =
    s"x.band_idx = ${firstBand(Bands, j => s"element_at(x.keys, ${j + 1}) = element_at(y.keys, ${j + 1})")}"

  private def simV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_simhash",
      simhashCte(s"WITH sh AS (SELECT doc_id, s FROM ${shV(s, d)})",
        sparkH60, (x, b) => s"shiftright($x, $b)") +
        "\nSELECT doc_id, code FROM simhash")

  // ------------------------------------------------------------------
  // text analysis
  // ------------------------------------------------------------------

  private val statsSparkSql =
    """WITH toks AS (SELECT doc_id, split(trim(text), '\\s+') AS t FROM documents)
      |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m, CAST(size(t) AS BIGINT) AS n_tokens,
      |  CAST(size(array_distinct(t)) AS BIGINT) AS n_distinct_tokens,
      |  CAST((100 * aggregate(t, 0, (a, x) -> a + length(x))) DIV size(t) AS BIGINT) AS avg_token_len_x100
      |FROM documents JOIN toks USING (doc_id) ORDER BY doc_id""".stripMargin

  private val statsDuckSql =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
      |SELECT documents.doc_id AS doc_id, CAST(length(text) AS BIGINT) AS n_chars_m, CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
      |  CAST((100 * list_sum(list_transform(t, x -> length(x)))) // len(t) AS BIGINT) AS avg_token_len_x100
      |FROM documents JOIN toks ON documents.doc_id = toks.doc_id ORDER BY documents.doc_id""".stripMargin

  private val tokenFreqSparkSql =
    """WITH toks AS (SELECT doc_id, explode(split(trim(text), '\\s+')) AS tok FROM documents)
      |SELECT tok, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_total
      |FROM toks GROUP BY tok ORDER BY tok""".stripMargin

  private val tokenFreqDuckSql =
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
      |SELECT tok, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_total
      |FROM toks GROUP BY tok ORDER BY tok""".stripMargin

  // language-id: stopword-marker counts per language, deterministic argmax
  // (fixed priority en > es > fr > de > zh on ties). Marker lists are the
  // query's config — the determinism contract is what is tested.
  private val langMarkers = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo", "you"))

  private def langIdSql(explodeTok: String): String = {
    val scores = langMarkers.map { case (lang, ms) =>
      val inList = ms.map(m => s"'$m'").mkString("(", ", ", ")")
      s"COUNT(*) FILTER (WHERE tok IN $inList) AS s_$lang"
    }.mkString(",\n    ")
    val argmax = {
      // strict-greater chain in fixed priority order
      val cases = langMarkers.map { case (lang, _) =>
        val beats = langMarkers.takeWhile(_._1 != lang).map(o => s"s_$lang > s_${o._1}")
        val holds = langMarkers.dropWhile(_._1 != lang).drop(1).map(o => s"s_$lang >= s_${o._1}")
        val cond = (beats ++ holds) match { case Nil => Seq("TRUE"); case xs => xs }
        s"WHEN ${cond.mkString(" AND ")} THEN '$lang'"
      }.mkString(" ")
      s"CASE $cases ELSE 'und' END"
    }
    s"""WITH toks AS (SELECT doc_id, $explodeTok AS tok FROM documents),
       |scores AS (SELECT doc_id,
       |    $scores
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id, $argmax AS pred_lang FROM scores ORDER BY doc_id""".stripMargin
  }

  private val qualitySparkSql =
    """WITH toks AS (SELECT doc_id, split(trim(text), '\\s+') AS t FROM documents),
      |m AS (SELECT doc_id, size(t) AS n_tok, size(array_distinct(t)) AS n_dis,
      |  aggregate(t, 0, (a, x) -> a + length(x)) AS tok_chars FROM toks)
      |SELECT doc_id, CAST((1000 * n_dis) DIV n_tok AS BIGINT) AS ttr_x1000,
      |  CAST((100 * tok_chars) DIV n_tok AS BIGINT) AS avg_len_x100,
      |  CAST(CASE WHEN n_tok BETWEEN 5 AND 10000 THEN 1 ELSE 0 END AS BIGINT) AS len_ok,
      |  CAST(((1000 * n_dis) DIV n_tok * 6 + CASE WHEN n_tok BETWEEN 5 AND 10000 THEN 1000 ELSE 0 END * 4) DIV 10 AS BIGINT) AS quality_x1000
      |FROM m ORDER BY doc_id""".stripMargin

  private val qualityDuckSql =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |m AS (SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dis,
      |  list_sum(list_transform(t, x -> length(x))) AS tok_chars FROM toks)
      |SELECT doc_id, CAST((1000 * n_dis) // n_tok AS BIGINT) AS ttr_x1000,
      |  CAST((100 * tok_chars) // n_tok AS BIGINT) AS avg_len_x100,
      |  CAST(CASE WHEN n_tok BETWEEN 5 AND 10000 THEN 1 ELSE 0 END AS BIGINT) AS len_ok,
      |  CAST(((1000 * n_dis) // n_tok * 6 + CASE WHEN n_tok BETWEEN 5 AND 10000 THEN 1000 ELSE 0 END * 4) // 10 AS BIGINT) AS quality_x1000
      |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // exact dedup + fingerprints
  // ------------------------------------------------------------------

  private val exactDedupSparkSql =
    """SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
      |FROM documents GROUP BY md5(text) ORDER BY fingerprint""".stripMargin

  private val exactDedupDuckSql =
    """SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
      |FROM documents GROUP BY md5(text) ORDER BY fingerprint""".stripMargin

  private val fingerprintSparkSql =
    s"""WITH toks AS (SELECT doc_id, split(trim(text), '\\\\s+') AS t FROM documents)
       |SELECT doc_id, md5(text) AS content_md5,
       |  ${sparkH60("text")} AS content_h60,
       |  ${sparkH60("concat_ws(' ', array_sort(array_distinct(t)))")} AS bow_h60
       |FROM documents JOIN toks USING (doc_id) ORDER BY doc_id""".stripMargin

  private val fingerprintDuckSql =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
       |SELECT documents.doc_id AS doc_id, md5(text) AS content_md5,
       |  ${duckH60("text")} AS content_h60,
       |  ${duckH60("array_to_string(list_sort(list_distinct(t)), ' ')")} AS bow_h60
       |FROM documents JOIN toks ON documents.doc_id = toks.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // shingles → MinHash → bands → LSH pairs → verified near-dups
  // ------------------------------------------------------------------

  private def shinglesSparkSql(s: SparkSession, d: String) =
    s"""WITH sh AS (SELECT doc_id, s FROM ${shV(s, d)})
       |SELECT doc_id, ${sparkH60("s")} AS shingle_h60 FROM sh ORDER BY doc_id, shingle_h60""".stripMargin

  private val shinglesDuckSql =
    s"""$duckShingleCte
       |SELECT doc_id, ${duckH60("s")} AS shingle_h60 FROM sh ORDER BY doc_id, shingle_h60""".stripMargin

  private def minhashSparkSql(s: SparkSession, d: String) =
    s"SELECT doc_id, perm, minhash FROM ${mhV(s, d)} ORDER BY doc_id, perm"

  private val minhashDuckSql =
    s"""$duckMinhashCte
       |SELECT doc_id, perm, minhash FROM mh ORDER BY doc_id, perm""".stripMargin

  private def bandsSparkSql(s: SparkSession, d: String) =
    s"SELECT doc_id, band_idx, band_key FROM ${bandsV(s, d)} ORDER BY doc_id, band_idx"

  private val bandsDuckSql =
    s"""$duckBandsCte
       |SELECT doc_id, band_idx, band_key FROM bands ORDER BY doc_id, band_idx""".stripMargin

  private def lshPairsSparkSql(s: SparkSession, d: String) =
    s"""WITH bands AS (SELECT doc_id, band_idx, band_key, keys FROM ${bandsV(s, d)})
       |SELECT x.doc_id AS a, y.doc_id AS b
       |FROM bands x JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |WHERE $firstBandOfPair
       |ORDER BY a, b""".stripMargin

  private val lshPairsDuckSql =
    s"""$duckBandsCte
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |FROM bands x JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |ORDER BY a, b""".stripMargin

  /** LSH candidates + exact Jaccard verification (candidate-then-verify,
    * reference Q7) at threshold 0.3; all-integer outputs. The DuckDB
    * oracle; the Spark text is [[nearDupSparkSql]]. */
  private val nearDupDuckSql =
    s"""$duckBandsCte,
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT cand.a, cand.b, COUNT(*) AS i
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.a JOIN sh sb ON sb.doc_id = cand.b AND sa.s = sb.s
       |  GROUP BY cand.a, cand.b)
       |SELECT inter.a AS a, inter.b AS b, i AS inter_sz, (na.n + nb.n - i) AS union_sz,
       |  (1000 * i) // (na.n + nb.n - i) AS jaccard_x1000
       |FROM inter JOIN sizes na ON na.doc_id = inter.a JOIN sizes nb ON nb.doc_id = inter.b
       |WHERE 10 * i >= 3 * (na.n + nb.n - i)
       |ORDER BY a, b""".stripMargin

  /** [[nearDupDuckSql]] on Spark: each candidate pair fetches both docs'
    * shingle arrays and sizes ([[shSetsV]]) and counts the shared shingles
    * with `array_intersect`. The arrays hold distinct shingles, so that is
    * the same integer as the oracle's shingle join + `GROUP BY`; a pair
    * sharing none scores 0 and fails the threshold, as it finds no row
    * there. */
  private def nearDupSparkSql(s: SparkSession, d: String) =
    s"""WITH bands AS (SELECT doc_id, band_idx, band_key, keys FROM ${bandsV(s, d)}),
       |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |  WHERE $firstBandOfPair),
       |inter AS (SELECT cand.a, cand.b, CAST(size(array_intersect(sa.sh, sb.sh)) AS BIGINT) AS i, sa.n AS na, sb.n AS nb
       |  FROM cand JOIN ${shSetsV(s, d)} sa ON sa.doc_id = cand.a JOIN ${shSetsV(s, d)} sb ON sb.doc_id = cand.b)
       |SELECT a, b, i AS inter_sz, (na + nb - i) AS union_sz, (1000 * i) DIV (na + nb - i) AS jaccard_x1000
       |FROM inter
       |WHERE 10 * i >= 3 * (na + nb - i)
       |ORDER BY a, b""".stripMargin

  // ------------------------------------------------------------------
  // SimHash (H1 semantics over the shingle space) + banded Hamming pairs
  // ------------------------------------------------------------------

  private val SimBits = 60
  private val SimBandBits = 15
  private val SimBands = SimBits / SimBandBits
  private val SimMaxHamming = 8

  /** 60 per-bit counter aggregates over the distinct shingle words, then the
    * sign-packed code — generated once per dialect. */
  private def simhashCte(shingleCte: String, h60: String => String, shr: (String, Int) => String): String = {
    val counters = (0 until SimBits)
      .map(b => s"SUM(CASE WHEN (${shr("w", b)} & 1) = 1 THEN 1 ELSE -1 END) AS c$b")
      .mkString(", ")
    val code = (0 until SimBits)
      .map(b => s"CASE WHEN c$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""$shingleCte,
       |words AS (SELECT doc_id, ${h60("s")} AS w FROM sh),
       |cnt AS (SELECT doc_id, $counters FROM words GROUP BY doc_id),
       |simhash AS (SELECT doc_id, CAST($code AS BIGINT) AS code FROM cnt)""".stripMargin
  }

  private def duckSim: String =
    simhashCte(duckShingleCte, duckH60, (x, b) => s"($x >> $b)")

  private def simhashSparkSql(s: SparkSession, d: String) =
    s"""WITH simhash AS (SELECT doc_id, code FROM ${simV(s, d)})
       |SELECT doc_id, code AS simhash FROM simhash ORDER BY doc_id""".stripMargin
  private val simhashDuckSql = s"""$duckSim
    |SELECT doc_id, code AS simhash FROM simhash ORDER BY doc_id""".stripMargin

  private val simBandMask = (1 << SimBandBits) - 1

  /** The SimHash band rows `(doc_id, band_idx, band_val$cols)` of `simhash`. */
  private def simBandsSql(shr: (String, Int) => String, cols: String = ""): String =
    (0 until SimBands)
      .map(b => s"SELECT doc_id, $b AS band_idx, (${shr("code", b * SimBandBits)} & $simBandMask) AS band_val$cols FROM simhash")
      .mkString(" UNION ALL ")

  /** Banded Hamming pairs: the banded candidates, then each pair's codes
    * and the distance check. The DuckDB oracle; the Spark text is
    * [[simPairsSparkSql]]. */
  private val simPairsDuckSql =
    s"""$duckSim,
       |sbands AS (${simBandsSql((x, b) => s"($x >> $b)")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM sbands x JOIN sbands y ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
       |SELECT cand.a AS a, cand.b AS b, CAST(bit_count(xor(sa.code, sb.code)) AS BIGINT) AS hamming
       |FROM cand JOIN simhash sa ON sa.doc_id = cand.a JOIN simhash sb ON sb.doc_id = cand.b
       |WHERE bit_count(xor(sa.code, sb.code)) <= $SimMaxHamming
       |ORDER BY a, b""".stripMargin

  /** The band rows, each with its doc's code, built once per (session,
    * dir) ([[CodesCache]]). */
  private def simBandsV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_sim_bands",
      s"WITH simhash AS (SELECT doc_id, code FROM ${simV(s, d)})\n" +
        simBandsSql((x, b) => s"shiftright($x, $b)", ", code"))

  /** [[simPairsDuckSql]] on Spark: the band rows carry both codes into the
    * self-join, so the Hamming distance needs no lookup, and a pair is kept
    * on its first shared band only ([[CrossSql.firstBand]]) instead of
    * through a DISTINCT. */
  private def simPairsSparkSql(s: SparkSession, d: String) = {
    val first = firstBand(SimBands, j => s"(shiftright(x.code ^ y.code, ${j * SimBandBits}) & $simBandMask) = 0")
    s"""WITH sbands AS (SELECT doc_id, band_idx, band_val, code FROM ${simBandsV(s, d)})
       |SELECT x.doc_id AS a, y.doc_id AS b, CAST(bit_count(x.code ^ y.code) AS BIGINT) AS hamming
       |FROM sbands x JOIN sbands y ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id
       |WHERE bit_count(x.code ^ y.code) <= $SimMaxHamming AND x.band_idx = $first
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------------------------------
  // exact-substring containment (seed-window pass, SURVEY §7.5)
  // ------------------------------------------------------------------

  private val SubW = 10

  /** Seeds joined to windows, then verified by padded-text containment.
    * Over CTEs `wins(doc_id, wh)` (every doc's distinct W-token window
    * hashes) and `seeds(doc_id, wh)` (each doc's first window). */
  private def substringSql(ctes: String): String =
    s"""$ctes
       |SELECT DISTINCT s.doc_id AS a, w.doc_id AS b
       |FROM seeds s JOIN wins w ON s.wh = w.wh AND s.doc_id <> w.doc_id
       |JOIN documents da ON da.doc_id = s.doc_id JOIN documents db ON db.doc_id = w.doc_id
       |WHERE contains(concat(' ', trim(db.text), ' '), concat(' ', trim(da.text), ' '))
       |ORDER BY a, b""".stripMargin

  private val subToksSpark = "WITH toks AS (SELECT doc_id, split(trim(text), '\\\\s+') AS t FROM documents)"

  /** The window table, built once per (session, dir) ([[CodesCache]]). */
  private def winsV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_wins",
      s"""$subToksSpark,
         |tw AS (SELECT doc_id, explode(transform(sequence(1, size(t) - $SubW + 1), i -> concat_ws(' ', slice(t, i, $SubW)))) AS win
         |  FROM toks WHERE size(t) >= $SubW)
         |SELECT DISTINCT doc_id, ${sparkH60("win")} AS wh FROM tw""".stripMargin)

  /** The seed table, built once per (session, dir). */
  private def seedsV(s: SparkSession, d: String): String =
    CodesCache.materialize(s, d, "doc_seeds",
      s"""$subToksSpark
         |SELECT doc_id, ${sparkH60(s"concat_ws(' ', slice(t, 1, $SubW))")} AS wh FROM toks WHERE size(t) >= $SubW""".stripMargin)

  private def substringSparkSql(s: SparkSession, d: String) = substringSql(
    s"""WITH wins AS (SELECT doc_id, wh FROM ${winsV(s, d)}),
       |seeds AS (SELECT doc_id, wh FROM ${seedsV(s, d)})""".stripMargin)

  private val substringDuckSql = substringSql(
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |tw AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - $SubW + 2), i -> array_to_string(list_slice(t, i, i + $SubW - 1), ' '))) AS win
       |  FROM toks WHERE len(t) >= $SubW),
       |wins AS (SELECT DISTINCT doc_id, ${duckH60("win")} AS wh FROM tw),
       |seeds AS (SELECT doc_id, ${duckH60(s"array_to_string(list_slice(t, 1, $SubW), ' ')")} AS wh FROM toks WHERE len(t) >= $SubW)""".stripMargin)

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_stats" -> ((s, d) => q(s, d)(statsSparkSql)),
    "q_token_freq" -> ((s, d) => q(s, d)(tokenFreqSparkSql)),
    "q_lang_id" -> ((s, d) => q(s, d)(langIdSql("explode(split(trim(text), '\\\\s+'))"))),
    "q_quality" -> ((s, d) => q(s, d)(qualitySparkSql)),
    "q_exact_dedup" -> ((s, d) => q(s, d)(exactDedupSparkSql)),
    "q_doc_fingerprint" -> ((s, d) => q(s, d)(fingerprintSparkSql)),
    "q_shingles" -> ((s, d) => q(s, d)(shinglesSparkSql(s, d))),
    "q_minhash_sig" -> ((s, d) => q(s, d)(minhashSparkSql(s, d))),
    "q_minhash_bands" -> ((s, d) => q(s, d)(bandsSparkSql(s, d))),
    "q_lsh_pairs" -> ((s, d) => q(s, d)(lshPairsSparkSql(s, d))),
    "q_near_dup_pairs" -> ((s, d) => q(s, d)(nearDupSparkSql(s, d))),
    "q_simhash" -> ((s, d) => q(s, d)(simhashSparkSql(s, d))),
    "q_simhash_pairs" -> ((s, d) => q(s, d)(simPairsSparkSql(s, d))),
    "q_substring_pairs" -> ((s, d) => q(s, d)(substringSparkSql(s, d)))
  )

  val oracleSql: Map[String, String] = Map(
    "q_doc_stats" -> statsDuckSql,
    "q_token_freq" -> tokenFreqDuckSql,
    "q_lang_id" -> langIdSql("unnest(regexp_split_to_array(trim(text), '\\s+'))"),
    "q_quality" -> qualityDuckSql,
    "q_exact_dedup" -> exactDedupDuckSql,
    "q_doc_fingerprint" -> fingerprintDuckSql,
    "q_shingles" -> shinglesDuckSql,
    "q_minhash_sig" -> minhashDuckSql,
    "q_minhash_bands" -> bandsDuckSql,
    "q_lsh_pairs" -> lshPairsDuckSql,
    "q_near_dup_pairs" -> nearDupDuckSql,
    "q_simhash" -> simhashDuckSql,
    "q_simhash_pairs" -> simPairsDuckSql,
    "q_substring_pairs" -> substringDuckSql
  )
}
