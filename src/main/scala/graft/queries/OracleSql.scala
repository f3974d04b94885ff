package graft
package queries

/** DuckDB oracle building blocks that more than one query family uses. */
private[queries] object OracleSql {

  /** DuckDB: unsigned 64-bit value of the first 16 hex chars of md5(e). */
  def md5u(e: String): String = s"(('0x'||substr(md5($e),1,16))::UBIGINT)"

  /**
   * Winnowing fingerprint selection (k=4-gram, w=5 window) replayed
   * in DuckDB: k-gram md5lo64 hashes with the sign bit cleared (so
   * BIGINT min-ordering matches the engine), sliding-window minima,
   * distinct per doc — [[graft.operators.TextAnalysis.winnowFingerprints]].
   */
  val winnowCte: String =
    "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
      "hs AS (SELECT doc_id, [CAST((" + md5u("array_to_string(w[i:i+3], ' ')") +
      " & 9223372036854775807::UBIGINT) AS BIGINT) " +
      "for i in generate_series(1, greatest(len(w) - 3, 0))] AS h FROM tok), " +
      "fp AS (SELECT DISTINCT doc_id, f AS fp FROM hs, " +
      "UNNEST([list_min(h[j:j+4]) for j in generate_series(1, greatest(len(h) - 4, 0))]) " +
      "AS t(f)) "

  /** One BM25 term in the engine's exact operand order (k1=1.2, b=0.75). */
  def bm25Term(idf: String, term: String): String = {
    val tf = s"len(list_filter(w, x -> x = '$term'))"
    s"$idf * ($tf * (1.2 + 1)) / ($tf + 1.2 * ((1 - 0.75) + 0.75 * len(w) / avgdl))"
  }

  /** DuckDB: two's-complement wrap of an unsigned 64-bit expression to signed BIGINT. */
  def wrapSigned(u: String): String =
    s"(CASE WHEN $u >= 9223372036854775808::HUGEINT THEN (($u)::HUGEINT - " +
      s"18446744073709551616::HUGEINT)::BIGINT ELSE ($u)::BIGINT END)"

  /**
   * DuckDB: CRC16-CCITT of a string key, folding the same 256-entry
   * table as [[graft.core.Slots]] with `list_reduce` over the bytes.
   */
  def crcSql(keyExpr: String): String = {
    val tab = graft.core.Slots.crcTable.mkString("[", ",", "]")
    s"list_reduce(list_prepend(0, [ord(substr($keyExpr, i, 1)) " +
      s"for i in generate_series(1, length($keyExpr))]), " +
      s"(crc, b) -> xor((crc << 8) & 65535, ($tab)[(xor(crc >> 8, b) & 255) + 1]))"
  }

  /** DSIR importance-weight replay (capped corpus LM + add-1 target LM, smoothed OOV). */
  lazy val importanceSql: String =
    "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok " +
      "FROM documents), " +
      "cf AS (SELECT tok, count(*) AS c_cnt FROM tok GROUP BY tok), " +
      "stats AS (SELECT sum(c_cnt) AS c_total, count(*) AS vocab_all FROM cf), " +
      "kept AS (SELECT tok, c_cnt FROM cf WHERE c_cnt >= 2 " +
      "QUALIFY row_number() OVER (ORDER BY c_cnt DESC, tok) <= 20), " +
      "ks AS (SELECT sum(c_cnt) AS kept_total, count(*) AS kept_types FROM kept), " +
      "ov AS (SELECT c_total, vocab_all, " +
      "(c_total - kept_total) / (vocab_all - kept_types) / c_total AS p_oov " +
      "FROM stats, ks), " +
      "tf AS (SELECT tok, count(*) AS t_cnt FROM tok WHERE doc_id % 50 = 0 " +
      "GROUP BY tok QUALIFY row_number() OVER (ORDER BY t_cnt DESC, tok) <= 20), " +
      "tt AS (SELECT sum(t_cnt) AS t_total FROM tf) " +
      "SELECT doc_id, count(*) AS n_tokens, " +
      "round(avg(ln((coalesce(t_cnt, 0) + 1) / (t_total + vocab_all)) " +
      "- (CASE WHEN c_cnt IS NOT NULL THEN ln(c_cnt / c_total) " +
      "ELSE ln(p_oov) END)), 4) AS importance " +
      "FROM tok LEFT JOIN kept USING (tok) LEFT JOIN tf USING (tok), ov, tt " +
      "GROUP BY doc_id"

  val stopwordsSql = "('the','a','an','of','and','or','in','on','to','is')"

  lazy val qualitySql: String =
    "WITH m AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens, " +
      "round((length(text) - (len(string_split(lower(text), ' ')) - 1)) * 1.0 / " +
      "len(string_split(lower(text), ' ')), 4) AS avg_token_len, " +
      "round(len(list_filter(string_split(lower(text), ' '), x -> x IN " + stopwordsSql + ")) " +
      "* 1.0 / len(string_split(lower(text), ' ')), 4) AS stopword_ratio, " +
      "round(len(list_distinct(string_split(lower(text), ' '))) * 1.0 / " +
      "len(string_split(lower(text), ' ')), 4) AS distinct_ratio FROM documents) " +
      "SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, distinct_ratio, " +
      "round(least(n_tokens / 64.0, 1.0) * 0.4 + least(stopword_ratio * 5.0, 1.0) * 0.2 " +
      "+ distinct_ratio * 0.4, 6) AS quality FROM m"

  lazy val langidSql: String =
    "WITH s AS (SELECT doc_id, " +
      "len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','is','to','a'))) AS s_en, " +
      "len(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','et','les','des','un'))) AS s_fr, " +
      "len(list_filter(string_split(lower(text), ' '), x -> x IN ('el','la','de','los','que','un'))) AS s_es, " +
      "len(list_filter(string_split(lower(text), ' '), x -> x IN ('der','die','und','das','ein','ist'))) AS s_de, " +
      "len(list_filter(string_split(lower(text), ' '), x -> x IN ('de','shi','le','bu','wo','zai'))) AS s_zh " +
      "FROM documents), m AS (SELECT *, greatest(s_en, s_fr, s_es, s_de, s_zh) AS mx FROM s) " +
      "SELECT doc_id, CASE WHEN s_en = mx AND mx > 0 THEN 'en' " +
      "WHEN s_fr = mx AND mx > 0 THEN 'fr' WHEN s_es = mx AND mx > 0 THEN 'es' " +
      "WHEN s_de = mx AND mx > 0 THEN 'de' WHEN s_zh = mx AND mx > 0 THEN 'zh' " +
      "ELSE 'und' END AS pred_lang FROM m"
}
