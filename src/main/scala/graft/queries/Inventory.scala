package graft.queries

import graft.convert.ArchiveConverter
import graft.core.{ConvertOptions, IncludeType}
import graft.functions.{GraftFunctions, TextStats}
import graft.ops.{Dedup, MultiModal, Packing, Quality, Sampling, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.collection.immutable.ListMap

/** The declared query inventory (SURVEY.md §2.9 Q1–Q16 plus the
  * training-data-pipeline operators): every capability of the engine as
  * a named DataFrame query over the driver test tables, each with an
  * ANSI-SQL oracle where SQL can express it.
  *
  * Oracle-parity rules used throughout (Spark vs DuckDB):
  *   - money aggregates go through DECIMAL(18,2) (the source doubles
  *     are 2-decimal values, so the cast is exact and engine-agnostic;
  *     decimal sums are exact) and are cast back to DOUBLE at the end —
  *     bit-identical on both engines, no fp-summation-order drift;
  *   - every aggregate / computed column is explicitly aliased and
  *     integer-typed columns are cast to BIGINT on both sides
  *     (DuckDB's sum(int) is HUGEINT, row_number is BIGINT);
  *   - every query has a deterministic total ORDER BY;
  *   - ratios/cosines are divisions of identical inputs → identical
  *     doubles; rounded to 6 decimals anyway.
  */
object Inventory extends InventoryCrawl {

  val queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "q01_filter_project" -> (q01 _),
    "q02_tpch_q1_agg" -> (q02 _),
    "q03_broadcast_join" -> (q03 _),
    "q04_multi_join" -> (q04 _),
    "q05_semi_anti" -> (q05 _),
    "q06_window_topk" -> (q06 _),
    "q07_window_running" -> (q07 _),
    "q08_rollup" -> (q08 _),
    "q09_topk_limit" -> (q09 _),
    "q10_setops" -> (q10 _),
    "q11_distinct_agg" -> (q11 _),
    "q12_scalar_funcs" -> (q12 _),
    "q13_json" -> (q13 _),
    "q14_cosine_topk" -> (q14 _),
    "q15_time_window" -> (q15 _),
    "q16_converter" -> (q16 _),
    "q17_exact_dedup" -> (q17 _),
    "q18_neardup_lsh" -> (q18 _),
    "q19_quality_score" -> (q19 _),
    "q20_token_stats" -> (q20 _),
    "q21_simhash_neardup" -> (q21 _),
    "q22_fingerprint" -> (q22 _),
    "q23_ann_lsh" -> (q23 _),
    "q24_lang_id" -> (q24 _),
    "q25_embedding_neardup" -> (q25 _),
    "q26_multimodal" -> (q26 _),
    "q27_streaming_window" -> (q27 _),
    "q28_asof_join" -> (q28 _),
    "q29_session_window" -> (q29 _),
    "q30_cube" -> (q30 _),
    "q31_embedding_neardup_lsh" -> (q31 _),
    "q32_range_join" -> (q32 _),
    "q33_components" -> (q33 _),
    "q34_salted_agg" -> (q34 _),
    "q35_window_frames" -> (q35 _),
    "q36_topk_agg" -> (q36 _),
    "q37_ann_ivf" -> (q37 _),
    "q38_streaming_dedup" -> (q38 _),
    "q39_stateful_sessions" -> (q39 _),
    "q40_percentile" -> (q40 _),
    "q41_bucketed_join" -> (q41 _),
    "q42_explode_sql" -> (q42 _),
    "q43_sliding_window" -> (q43 _),
    "q44_jaccard_neardup" -> (q44 _),
    "q45_pivot" -> (q45 _),
    "q46_stream_stream_join" -> (q46 _),
    "q47_approx_sketches" -> (q47 _),
    "q48_outer_join" -> (q48 _),
    "q49_setops_all" -> (q49 _),
    "q50_frame_sample" -> (q50 _),
    "q51_array_hof" -> (q51 _),
    "q52_bpe_tokens" -> (q52 _),
    "q53_sql_tpch_q3" -> (q53 _),
    "q54_subqueries" -> (q54 _),
    "q55_dist_windows" -> (q55 _),
    "q56_grouping_sets" -> (q56 _),
    "q57_decontaminate" -> (q57 _),
    "q58_text_filter" -> (q58 _),
    "q59_extract_strings" -> (q59 _),
    "q60_repetition" -> (q60 _),
    "q61_stratified_sample" -> (q61 _),
    "q62_pii_scrub" -> (q62 _),
    "q63_recursive_cte" -> (q63 _),
    "q64_seq_packing" -> (q64 _),
    "q65_map_hof" -> (q65 _),
    "q66_unpivot" -> (q66 _),
    "q67_lateral_topn" -> (q67 _),
    "q68_hll_sketches" -> (q68 _),
    "q69_line_dedup" -> (q69 _),
    "q70_upsample" -> (q70 _),
    "q71_chunk_windows" -> (q71 _),
    "q72_size_filter" -> (q72 _),
    "q73_dsv2_source" -> (q73 _),
    "q74_chunked_walk" -> (q74 _),
    "q75_neardup_winners" -> (q75 _),
    "q76_epoch_shuffle" -> (q76 _),
    "q77_semdedup" -> (q77 _),
    "q78_lm_score" -> (q78 _),
    "q79_dsir_select" -> (q79 _),
    "q80_substring_pairs" -> (q80 _),
    "q81_warc_source" -> (q81 _),
    "q82_domain_cap" -> (q82 _),
    "q83_bm25_score" -> (q83 _),
    "q84_gopher_filter" -> (q84 _),
    "q85_top_ngrams" -> (q85 _),
    "q86_char_entropy" -> (q86 _),
    "q87_ar_source" -> (q87 _),
    "q88_bloom_gate" -> (q88 _),
    "q89_cpio_source" -> (q89 _),
    "q90_rpm_source" -> (q90 _),
    "q91_sevenz_source" -> (q91 _),
    "q92_codec_matrix" -> (q92 _),
    "q93_normalize" -> (q93 _),
    "q94_deb_source" -> (q94 _),
    "q95_cdc_chunks" -> (q95 _),
    "q96_url_parse" -> (q96 _),
    "q97_html_extract" -> (q97 _),
    "q98_clean_pipeline" -> (q98 _),
    "q99_url_normalize" -> (q99 _),
    "q100_cdc_parts" -> (q100 _),
    "q101_http_payload" -> (q101 _),
    "q102_url_sortquery" -> (q102 _),
    "q103_http_convert" -> (q103 _),
    "q104_charset_decode" -> (q104 _),
    "q105_main_content" -> (q105 _),
    "q106_freq_items" -> (q106 _),
    "q107_link_graph" -> (q107 _),
    "q108_pagerank" -> (q108 _),
    "q109_robots_gate" -> (q109 _),
    "q110_audio_decode" -> (q110 _),
    "q111_sitemap" -> (q111 _),
    "q112_frontier" -> (q112 _),
    "q113_cdx_keys" -> (q113 _),
    "q114_robots_sitemaps" -> (q114 _),
    "q115_html_meta" -> (q115 _),
    "q116_anchor_text" -> (q116 _),
    "q117_nofollow_rank" -> (q117 _),
    "q118_script_mix" -> (q118 _),
    "q119_crawl_delay" -> (q119 _),
    "q120_warc_cdx" -> (q120 _),
    "q121_fetch_schedule" -> (q121 _),
    "q122_warc_wet" -> (q122 _),
    "q123_image_decode" -> (q123 _),
    "q124_site_clusters" -> (q124 _),
    "q125_cdx_scan" -> (q125 _),
    "q126_bpe_tokens" -> (q126 _),
    "q127_pii_redact" -> (q127 _),
    "q128_leakfree_split" -> (q128 _),
    "q129_ann_pq" -> (q129 _),
    "q130_token_budget" -> (q130 _),
    "q131_incr_neardup" -> (q131 _),
    "q132_ann_ivfpq" -> (q132 _),
    "q133_data_card" -> (q133 _),
    "q134_fix_mojibake" -> (q134 _),
    "q135_ann_atrest" -> (q135 _),
    "q136_snapshot_diff" -> (q136 _),
    "q137_corpus_select" -> (q137 _),
    "q138_ann_append" -> (q138 _),
    "q139_wet_convert" -> (q139 _),
    "q140_incr_refresh" -> (q140 _),
    "q141_split_from_index" -> (q141 _),
    "q142_winners_from_index" -> (q142 _),
    "q143_ann_self_contained" -> (q143 _),
    "q144_ann_compact" -> (q144 _),
    "q145_token_budget_weighted" -> (q145 _),
    "q146_ann_filtered" -> (q146 _),
    "q147_ann_residual" -> (q147 _),
    "q148_ann_residual_atrest" -> (q148 _),
    "q149_ann_tombstone" -> (q149 _),
    "q150_neardup_tombstone" -> (q150 _),
    "q151_quant_drift" -> (q151 _),
    "q152_quality_classifier" -> (q152 _),
    "q153_ffd_packing" -> (q153 _),
    "q154_streaming_neardup" -> (q154 _),
    "q155_bpe_ffd_pack" -> (q155 _),
    "q156_ann_maintain" -> (q156 _),
    "q157_streaming_ann" -> (q157 _),
    "q158_ann_rebuild" -> (q158 _),
    "q159_drift_monitor" -> (q159 _),
    "q160_ann_batch_probe" -> (q160 _),
    "q161_ann_residual_batch_incr" -> (q161 _),
    "q162_ann_recall" -> (q162 _),
    "q163_streaming_bloom_gate" -> (q163 _),
    "q164_ann_refine" -> (q164 _))

  /** DuckDB-runnable oracles — one per query, including the custom-op
    * surfaces: simhash/fingerprint values are md5-derived (the one hash
    * both engines share), the ANN hyperplanes are fixed ±1 constants
    * inlined below, and the converter fixture's expected rows are a
    * spec-determined VALUES literal (sha256 digests derived
    * independently of the engine).
    */
  val oracleSql: Map[String, String] = {
    // shared SQL fragments (DuckDB dialect)
    val toks = "list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
    val money = (c: String) => s"CAST($c AS DECIMAL(18,2))"
    val rev = s"CAST(SUM(${money("l_extendedprice")} * (CAST(1 AS DECIMAL(18,2)) - ${money("l_discount")})) AS DOUBLE)"
    // 62-bit md5 hash shared with HashingHelper.md5lo62 (mod 2^62 ==
    // low-bit mask, stays in DuckDB's UBIGINT domain before the cast)
    val md5h = (e: String) => s"CAST(md5_number_lower($e) % 4611686018427387904 AS BIGINT)"
    // q23/q31's fixed ±1 hyperplanes + query code, inlined as constants
    // (part of the operator definition, not data-derived). The dot
    // chains are explicit left-to-right sums — the exact IEEE add
    // sequence the engine's vec_dot performs.
    def planeDotChain(p: Array[Int]): String =
      "0.0 " + p.zipWithIndex
        .map { case (sgn, j) => (if (sgn > 0) "+" else "-") + s" v[${j + 1}]" }
        .mkString(" ")
    val q23CodeExpr = Similarity.planeSigns(64, 8).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN (${planeDotChain(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n         + ", ")")
    val q23QCode = Similarity.queryCode(OnesQuery, 64, 8)
    // q31: 8 tables x 8 bits = 64 planes; one code expression per table
    val q31Planes = Similarity.planeSigns(64, 64)
    val q31CodeExprs = (0 until 8).map { t =>
      (0 until 8).map { b =>
        s"(CASE WHEN (${planeDotChain(q31Planes(t * 8 + b))}) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", s") AS c$t")
    }
    // q132/q135 share one oracle: q37's probe CTEs + q129's encode/ADC
    // CTEs with the sub/code stages restricted to the probed rows —
    // the in-flight face (q132) and the at-rest read-back (q135) must
    // land on the SAME recomputed top-k. q138 (incremental append)
    // reuses the chain with ONLY the codebook CTEs restricted to the
    // corpus half: assignment/encode still cover every vector, so the
    // increment is ranked through codebooks it was never trained on —
    // exactly what the no-retrain append claims.
    def ivfPqOracleFrom(cbWhere: String, selWhere: String = ""): String =
      s"""WITH cmeta AS (
        |  SELECT vec_id AS cent_id, embedding AS cvec,
        |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
        |  FROM embeddings $cbWhere ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
        |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
        |      AS cos_c
        |  FROM embeddings e CROSS JOIN cmeta c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |                             ORDER BY cos_c DESC, c.cent_id) = 1),
        |probed AS (
        |  SELECT cent_id FROM cmeta
        |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
        |           cent_id
        |  LIMIT 4),
        |sel AS (
        |  SELECT a.vec_id, a.embedding FROM assigned a
        |  JOIN probed p USING (cent_id) $selWhere),
        |cb AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
        |  FROM (SELECT vec_id, embedding FROM embeddings $cbWhere
        |        ORDER BY vec_id LIMIT 16)),
        |sub AS (
        |  SELECT e.vec_id, m.m, cb.j,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE) *
        |           (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE))) AS d
        |  FROM sel e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
        |code AS (
        |  SELECT vec_id, m, j FROM sub
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
        |lut AS (
        |  SELECT m.m, cb.j,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> (1.0 - cb.c[m.m*8+i]::DOUBLE) * (1.0 - cb.c[m.m*8+i]::DOUBLE))) AS ld
        |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
        |adc AS (
        |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
        |  FROM code c JOIN lut l ON l.m = c.m AND l.j = c.j
        |  GROUP BY c.vec_id)
        |SELECT vec_id, round(dist, 6) AS adc FROM adc
        |ORDER BY adc, vec_id LIMIT 10""".stripMargin
    val ivfPqOracle = ivfPqOracleFrom("")
    // q147: the residual chain — q37's assignment/probe CTEs, the
    // residual codebook (the 16 smallest-id vectors minus their
    // assigned centroids), encode + ADC in COMBINED coordinates
    // (cvec + rcb pre-added, the engine's driver-side add), per-cell
    // lookup tables for the probed cells, m-ordered fold
    val ivfPqResidualOracle =
      """WITH cmeta AS (
        |  SELECT vec_id AS cent_id, embedding AS cvec,
        |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
        |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
        |      AS cos_c
        |  FROM embeddings e CROSS JOIN cmeta c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |                             ORDER BY cos_c DESC, c.cent_id) = 1),
        |probed AS (
        |  SELECT cent_id FROM cmeta
        |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
        |           cent_id
        |  LIMIT 4),
        |rcb AS (
        |  SELECT row_number() OVER (ORDER BY a.vec_id) - 1 AS j,
        |    list_transform(generate_series(1, 64),
        |      i -> a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) AS r
        |  FROM (SELECT vec_id, embedding, cent_id FROM assigned
        |        ORDER BY vec_id LIMIT 16) a
        |  JOIN cmeta c USING (cent_id)),
        |sel AS (
        |  SELECT a.vec_id, a.embedding, a.cent_id, c.cvec
        |  FROM assigned a JOIN probed p USING (cent_id)
        |  JOIN cmeta c USING (cent_id)),
        |sub AS (
        |  SELECT s.vec_id, m.m, rb.j,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> (s.embedding[m.m*8+i]::DOUBLE -
        |              (s.cvec[m.m*8+i]::DOUBLE + rb.r[m.m*8+i])) *
        |           (s.embedding[m.m*8+i]::DOUBLE -
        |              (s.cvec[m.m*8+i]::DOUBLE + rb.r[m.m*8+i])))) AS d
        |  FROM sel s CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
        |code AS (
        |  SELECT vec_id, m, j FROM sub
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
        |lut AS (
        |  SELECT p.cent_id AS cell, m.m, rb.j,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> (1.0 - (c.cvec[m.m*8+i]::DOUBLE + rb.r[m.m*8+i])) *
        |           (1.0 - (c.cvec[m.m*8+i]::DOUBLE + rb.r[m.m*8+i])))) AS ld
        |  FROM probed p JOIN cmeta c USING (cent_id)
        |  CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
        |adc AS (
        |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
        |  FROM code c
        |  JOIN sel s USING (vec_id)
        |  JOIN lut l ON l.cell = s.cent_id AND l.m = c.m AND l.j = c.j
        |  GROUP BY c.vec_id)
        |SELECT vec_id, round(dist, 6) AS adc FROM adc
        |ORDER BY adc, vec_id LIMIT 10""".stripMargin
    // q148: the residual chain AT REST — same CTEs as
    // ivfPqResidualOracle, but encode and ADC stated in RESIDUAL
    // coordinates ((v[i]-cvec[i]) - r[i]; the engine's at-rest writer
    // materializes the residual once per row and applies the SHARED
    // rpq table, so the inlined-constant volume stays nlist*dim +
    // m*ks*dsub instead of per-cell combined tables — the form that
    // survives production nlist). cbWhere restricts the codebook CTEs
    // to the written corpus (the q138 append play); selWhere restricts
    // the ranked rows (the q146 filtered play).
    def ivfPqResidualAtRestOracleFrom(cbWhere: String, selWhere: String = ""): String =
      s"""WITH cmeta AS (
        |  SELECT vec_id AS cent_id, embedding AS cvec,
        |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
        |  FROM embeddings $cbWhere ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
        |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
        |      AS cos_c
        |  FROM embeddings e CROSS JOIN cmeta c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |                             ORDER BY cos_c DESC, c.cent_id) = 1),
        |probed AS (
        |  SELECT cent_id FROM cmeta
        |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
        |           cent_id
        |  LIMIT 4),
        |rcb AS (
        |  SELECT row_number() OVER (ORDER BY a.vec_id) - 1 AS j,
        |    list_transform(generate_series(1, 64),
        |      i -> a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) AS r
        |  FROM (SELECT vec_id, embedding, cent_id FROM assigned
        |        $cbWhere ORDER BY vec_id LIMIT 16) a
        |  JOIN cmeta c USING (cent_id)),
        |sel AS (
        |  SELECT a.vec_id, a.embedding, a.cent_id, c.cvec
        |  FROM assigned a JOIN probed p USING (cent_id)
        |  JOIN cmeta c USING (cent_id) $selWhere),
        |sub AS (
        |  SELECT s.vec_id, m.m, rb.j,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> ((s.embedding[m.m*8+i]::DOUBLE - s.cvec[m.m*8+i]::DOUBLE) -
        |              rb.r[m.m*8+i]) *
        |           ((s.embedding[m.m*8+i]::DOUBLE - s.cvec[m.m*8+i]::DOUBLE) -
        |              rb.r[m.m*8+i]))) AS d
        |  FROM sel s CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
        |code AS (
        |  SELECT vec_id, m, j FROM sub
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
        |lut AS (
        |  SELECT p.cent_id AS cell, m.m, rb.j,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> ((1.0 - c.cvec[m.m*8+i]::DOUBLE) - rb.r[m.m*8+i]) *
        |           ((1.0 - c.cvec[m.m*8+i]::DOUBLE) - rb.r[m.m*8+i]))) AS ld
        |  FROM probed p JOIN cmeta c USING (cent_id)
        |  CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
        |adc AS (
        |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
        |  FROM code c
        |  JOIN sel s USING (vec_id)
        |  JOIN lut l ON l.cell = s.cent_id AND l.m = c.m AND l.j = c.j
        |  GROUP BY c.vec_id)
        |SELECT vec_id, round(dist, 6) AS adc FROM adc
        |ORDER BY adc, vec_id LIMIT 10""".stripMargin
    val neardupWinnersOracle =
      s"""WITH RECURSIVE
           |w AS (SELECT doc_id, $toks AS t FROM documents),
           |sh AS (SELECT doc_id,
           |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                        for i in range(1, len(t) - 1)]) AS s
           |       FROM w),
           |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
           |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           |p AS (SELECT id_a, id_b FROM pr WHERE round(j, 6) >= 0.8),
           |e AS (SELECT id_a AS src, id_b AS dst FROM p
           |      UNION SELECT id_b, id_a FROM p),
           |reach(id, r) AS (
           |  SELECT src, src FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
           |losers AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) < id)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT id FROM losers)
           |ORDER BY doc_id""".stripMargin
    val warcWetOracle =
      """SELECT * FROM (VALUES
          |  ('http://w/c01_latin1', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(74 AS BIGINT), '857df3c4ff282c92b4d79d7e772e620b'),
          |  ('http://w/c02_win1252', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(74 AS BIGINT), '662e596e993fdcfa93744e97ccb48f00'),
          |  ('http://w/c03_utf16le', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(91 AS BIGINT), 'c2ec76b69aef0081f2ab2fb51b7afcb1'),
          |  ('http://w/c04_bom_utf8', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(90 AS BIGINT), '1186bdfe6a319f0eed60f5c6bcdfdd0f'),
          |  ('http://w/c05_meta_sjis', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(77 AS BIGINT), '659810c00e0e990d7a4aeaaaec0714f5'),
          |  ('http://w/c06_gzip_latin1', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(83 AS BIGINT), '742fcc2f003921ec362c84f88e3c8e8d'),
          |  ('http://w/c07_chunked_utf8', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(81 AS BIGINT), 'c0850e394f45d8299a960f2fdb193ac3'),
          |  ('http://w/c08_nfc', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(1 AS BIGINT), CAST(79 AS BIGINT), 'b0e59e012001e64a6f5e3f9d6d497ce0'),
          |  ('http://w/c09_short', CAST(200 AS BIGINT), CAST(5 AS BIGINT),
          |   CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'd41d8cd98f00b204e9800998ecf8427e'))
          |  AS t(path, status, n_blocks, n_content, wet_len, wet_md5)
          |ORDER BY path""".stripMargin
    val leakFreeSplitOracle =
      s"""WITH RECURSIVE
           |w AS (SELECT doc_id, $toks AS t FROM documents),
           |sh AS (SELECT doc_id,
           |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                        for i in range(1, len(t) - 1)]) AS s
           |       FROM w),
           |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
           |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           |p AS (SELECT id_a, id_b FROM pr WHERE round(j, 6) >= 0.8),
           |e AS (SELECT id_a AS src, id_b AS dst FROM p
           |      UNION SELECT id_b, id_a FROM p),
           |reach(id, r) AS (
           |  SELECT src, src FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
           |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
           |m AS (SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
           |      FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
           |b AS (SELECT doc_id, cluster,
           |        ${md5h("'13:' || CAST(cluster AS VARCHAR)")} % 100 AS bk
           |      FROM m)
           |SELECT doc_id, cluster,
           |       CASE WHEN bk < 80 THEN 'train'
           |            WHEN bk < 90 THEN 'val' ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin

    // spec-determined fixture rows (sizes + independently computed
    // sha256 digests) — oracles BOTH the converter walk (q16) and its
    // LATERAL VIEW explode_archive SQL face (q42)
    val fixtureOracle =
      """SELECT * FROM (VALUES
        |  ('a.txt', CAST(800 AS BIGINT),
        |   '90ce0e91aa6b20a7e755ae3facb82f04410ac992a53fe534e8246a1b7f10a871'),
        |  ('e.txt.zst', CAST(390 AS BIGINT),
        |   'be9a5820be89dcdce4b8df97c01cdf2e98ebc407e957ae930a0396a8122ab2cb'),
        |  ('f.txt.xz', CAST(370 AS BIGINT),
        |   '14df686258199a2d006cb28a8c51120f12385acd67cc2ef99fb0412be003bc6e'),
        |  ('g.txt.bz2', CAST(400 AS BIGINT),
        |   'f2ab80f749efe643b97fe67f91432f8bf7938d4942ed1880fc91e411a2423789'),
        |  ('inner.zip/b/c.txt', CAST(26 AS BIGINT),
        |   '8d9bb0542d7fefd949a9559bd0c68ba0cf3bba93d0d108f6ca2289d789b8a6a5'),
        |  ('inner.zip/d.bin', CAST(512 AS BIGINT),
        |   'c029dfc944a023bec6662861a4e633237ad3e4f4bca787399fdd487ca52af8f5'),
        |  ('inner2.tar.zst/h.txt', CAST(170 AS BIGINT),
        |   '4fd9024cec0e7478e760c58707179f0e6f5680ab92f89cc4d76d730209dd7e1e'))
        |  AS t(path, size, sha256)
        |ORDER BY path""".stripMargin
    // q97/q98 shared page synthesis + extraction chain (keep in sync
    // with Inventory.syntheticHtml and Quality.htmlToText — the regex
    // pattern set is restricted to Java-regex/RE2-identical syntax,
    // incl. the quoted-attribute tag body, and the entity replace
    // chain emulates the engine's single-pass decode-once scan on
    // exactly the references the synthesis inserts: numeric literals
    // first, `&amp;` LAST, so the double-encoded `&amp;#65;` decodes
    // once to `&#65;` on both sides and `&#xZZ;` survives verbatim)
    val htmlSyn =
      """'<html><head><title>T' || CAST(doc_id AS VARCHAR) || '</title><style type="text/css">p{color:red}</style></head>' ||
        |    '<body><script>var x = 1 < 2;</script><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
        |    ' &amp;x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end' ||
        |    ' <a href="x>y" title=''z>w''>L</a> caf&#233; &#xE9; &amp;#65; &apos;a&apos; &#xZZ;</p>' ||
        |    '<p>caf&eacute; A&hellip;B &mdash; &copy;7 x&CounterClockwiseContourIntegral;y &amp;eacute; &notareal; <i title=don''t>it</i></p><!-- note --><br/></body></html>'""".stripMargin
    // SQL-quoted form of Quality.TagBody (single quotes doubled)
    val tagBodySql = graft.ops.Quality.TagBody.replace("'", "''")
    // quote-aware pass, then the r12 sloppy-tag cleanup `<[^>]+>`
    // (unpaired-quote tags the hardened TagBody must skip)
    val tagStrip = (c: String) =>
      s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace($c,
         |      '(?s)<!--.*?-->', ' ', 'g'),
         |      '(?is)<script$tagBodySql>.*?</script>', ' ', 'g'),
         |      '(?is)<style$tagBodySql>.*?</style>', ' ', 'g'),
         |      '<$tagBodySql>', ' ', 'g'),
         |      '<[^>]+>', ' ', 'g')""".stripMargin
    val entityWs = (c: String) =>
      s"""trim(regexp_replace(
         |    replace(replace(replace(replace(replace(
         |    replace(replace(replace(replace(replace(replace(replace(replace(replace($c,
         |      '&#233;', 'é'), '&#xE9;', 'é'), '&apos;', ''''),
         |      '&eacute;', 'é'), '&hellip;', '…'), '&mdash;', '—'), '&copy;', '©'),
         |      '&CounterClockwiseContourIntegral;', '∳'),
         |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
         |    '[ \t\n\r]+', ' ', 'g'))""".stripMargin
    // gaps-and-islands sessionization — oracles BOTH the native
    // session_window (q29) and the flatMapGroupsWithState (q39) paths
    val sessionOracle =
      """WITH o AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts >= lag(ts) OVER w + INTERVAL 4 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT MIN(ts) AS ss, MAX(ts) + INTERVAL 4 HOUR AS se, user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, ss""".stripMargin
    ListMap(
      "q01_filter_project" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
          |FROM lineitem WHERE l_quantity < 24
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "q02_tpch_q1_agg" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(${money("l_quantity")}) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(${money("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
           |  $rev AS sum_disc_price,
           |  CAST(SUM(${money("l_quantity")}) AS DOUBLE) / COUNT(*) AS avg_qty,
           |  COUNT(*) AS count_order
           |FROM lineitem GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q03_broadcast_join" ->
        """SELECT o_orderkey, c_name, o_totalprice, o_orderdate
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
      "q04_multi_join" ->
        s"""SELECT n_name, $rev AS revenue, COUNT(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q05_semi_anti" ->
        """SELECT 'with' AS side, c_custkey FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |UNION ALL
          |SELECT 'without' AS side, c_custkey FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY side, c_custkey""".stripMargin,
      "q06_window_topk" ->
        """SELECT o_custkey, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
          |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          |        row_number() OVER (PARTITION BY o_custkey
          |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |      FROM orders) x
          |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "q07_window_running" ->
        s"""SELECT o_custkey, o_orderkey, o_orderdate,
           |  CAST(SUM(${money("o_totalprice")}) OVER (
           |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           |    AS running_total
           |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
      "q08_rollup" ->
        s"""SELECT n_name, o_orderpriority,
           |  CAST(SUM(${money("o_totalprice")}) AS DOUBLE) AS revenue,
           |  COUNT(*) AS n_orders
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY ROLLUP(n_name, o_orderpriority)
           |ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
      "q09_topk_limit" ->
        """SELECT p_partkey, p_name, p_retailprice FROM part
          |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,
      "q10_setops" ->
        """SELECT 'except' AS op, c_custkey FROM (
          |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
          |  EXCEPT
          |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') a
          |UNION ALL
          |SELECT 'intersect' AS op, c_custkey FROM (
          |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
          |  INTERSECT
          |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') b
          |ORDER BY op, c_custkey""".stripMargin,
      "q11_distinct_agg" ->
        """SELECT lang, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT source) AS n_sources,
          |  COUNT(DISTINCT md5(text)) AS n_unique_texts
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "q12_scalar_funcs" ->
        """SELECT o_orderkey,
          |  substring(o_orderpriority, 1, 1) AS pri_code,
          |  CAST(date_trunc('month', o_orderdate) AS DATE) AS omonth,
          |  round(o_totalprice, 0) AS price_round,
          |  round(sqrt(o_totalprice), 6) AS price_sqrt
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      "q13_json" ->
        """SELECT event_type,
          |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
          |    AS total_k,
          |  COUNT(*) AS n_events
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q14_cosine_topk" ->
        """SELECT vec_id,
          |  round(list_sum([x::DOUBLE for x in embedding]) /
          |        (sqrt(64.0) * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding]))), 6)
          |    AS cos
          |FROM embeddings ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
      "q15_time_window" ->
        """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
      "q17_exact_dedup" ->
        """SELECT doc_id, lang FROM documents
          |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
          |ORDER BY doc_id""".stripMargin,
      "q18_neardup_lsh" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
           |s AS (SELECT doc_id,
           |        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                       for i in range(1, len(t) - 1)]) AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |              CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)
           |          AS jaccard
           |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,
      "q19_quality_score" ->
        s"""WITH q AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS BIGINT) AS n_tokens,
           |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
           |      / CAST(length(text) AS DOUBLE) AS praw,
           |    $toks AS t,
           |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) AS alnum
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, n_tokens, praw,
           |    CASE WHEN len(t) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(t, x -> list_contains(
           |                ['the','a','an','of','and','to','in','is','it','for',
           |                 'on','with','as','at','by','or','be','this','that','are'], x)))
           |              AS DOUBLE) / CAST(len(t) AS DOUBLE) END AS sraw,
           |    CASE WHEN len(t) = 0 THEN 0.0 ELSE alnum / CAST(len(t) AS DOUBLE) END AS araw
           |  FROM q)
           |SELECT doc_id, n_tokens,
           |  round(praw, 6) AS punct_ratio,
           |  round(sraw, 6) AS stop_ratio,
           |  round(araw, 6) AS avg_tok_len,
           |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
           |        + (1.0 - least(praw * 4.0, 1.0)) * 0.3
           |        + least(sraw * 5.0, 1.0) * 0.3, 6) AS quality
           |FROM r ORDER BY doc_id""".stripMargin,
      "q20_token_stats" ->
        """WITH q AS (SELECT lang,
          |    CAST(len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS BIGINT) AS tc
          |  FROM documents)
          |SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(tc) AS BIGINT) AS total_tokens,
          |  CAST(MIN(tc) AS BIGINT) AS min_tokens,
          |  CAST(MAX(tc) AS BIGINT) AS max_tokens,
          |  round(CAST(SUM(tc) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
          |FROM q GROUP BY lang ORDER BY lang""".stripMargin,
      "q27_streaming_window" ->
        """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
          |  COUNT(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
      "q25_embedding_neardup" ->
        """WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v
          |           FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
          |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |        round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
          |              / (a.nrm * b.nrm), 6) AS cos
          |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
          |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45
          |ORDER BY id_a, id_b""".stripMargin,
      // spec-determined fixture content: sizes and sha256 digests are
      // derived from the fixture definition itself (independently
      // computed), not from engine output
      "q16_converter" -> fixtureOracle,
      "q21_simhash_neardup" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS tk FROM w),
           |th AS (SELECT doc_id, ${md5h("tk")} AS h FROM tok),
           |v AS (SELECT doc_id, b,
           |        SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
           |      FROM th CROSS JOIN (SELECT unnest(range(0, 62)) AS b) bits
           |      GROUP BY doc_id, b),
           |sh0 AS (SELECT doc_id,
           |          CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
           |                        ELSE 0 END) AS BIGINT) AS sim
           |        FROM v GROUP BY doc_id),
           |sh AS (SELECT d.doc_id, coalesce(s.sim, 0) AS sim
           |       FROM documents d LEFT JOIN sh0 s USING (doc_id)),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |        CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
           |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
           |ORDER BY id_a, id_b""".stripMargin,
      "q22_fingerprint" ->
        s"""WITH w AS (SELECT doc_id, array_to_string($toks, ' ') AS s FROM documents),
           |g0 AS (SELECT doc_id, s,
           |         unnest(range(1, greatest(length(s) - 7, 1))) AS i FROM w),
           |g AS (SELECT doc_id, i, ${md5h("s[i:i+8]")} AS gh FROM g0),
           |m AS (SELECT doc_id, i,
           |        MIN(gh) OVER (PARTITION BY doc_id ORDER BY i
           |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
           |        COUNT(*) OVER (PARTITION BY doc_id) AS cnt
           |      FROM g),
           |sel AS (SELECT doc_id, wmin FROM m WHERE i <= greatest(cnt - 3, 1)),
           |agg AS (SELECT doc_id, CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fp,
           |          MIN(wmin) AS fp_min, MAX(wmin) AS fp_max
           |        FROM sel GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(a.n_fp, 0) AS n_fp, a.fp_min, a.fp_max
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      // shared-substring pairs: every 24-gram hash of the q22
      // normalization (no winnowing: window=1 keeps all positions),
      // df-capped gram buckets, bucket self-join
      "q80_substring_pairs" ->
        s"""WITH w AS (SELECT doc_id, array_to_string($toks, ' ') AS s FROM documents),
           |g0 AS (SELECT doc_id, s,
           |         unnest(range(1, greatest(length(s) - 22, 1))) AS i FROM w),
           |g AS (SELECT DISTINCT doc_id, ${md5h("s[i:i+23]")} AS gh FROM g0),
           |d AS (SELECT gh, count(*) AS df FROM g GROUP BY 1),
           |ok AS (SELECT gh FROM d WHERE df BETWEEN 2 AND 64),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |        CAST(count(*) AS BIGINT) AS shared_grams
           |      FROM g a JOIN ok USING (gh)
           |      JOIN g b ON b.gh = a.gh AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2)
           |SELECT id_a, id_b, shared_grams FROM p
           |ORDER BY id_a, id_b""".stripMargin,
      // WARC source: spec-body sizes/digests (gzip body decompressed),
      // computed independently of the engine — q16's rule
      "q81_warc_source" ->
        """SELECT * FROM (VALUES
          |  ('http://example.com/a', CAST(61 AS BIGINT),
          |   '2f3babcd61440d11781cee7d50239f8da627c7b3b074b61c18ec7c53901fdf29'),
          |  ('http://example.com/b.gz', CAST(96 AS BIGINT),
          |   '5bdb30d6bbce8e6ab66662add7770735fceb75e80a21f59120d86c143f3f99c4'),
          |  ('http://example.com/q', CAST(38 AS BIGINT),
          |   '21f029f71caca9496095c89a38cc12b103f1e92d5d21dc98f115804cd0f76fc3'),
          |  ('urn:uuid:0001', CAST(23 AS BIGINT),
          |   '751ec4bf1090414242c2120922d78d60406bcdf18c2add84d9dd712b4fbfc235'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin,
      // WARC -> HTTP payload: spec-payload sizes/sha256 digests
      // (chunked framing reversed, gzip/deflate/zstd decoded, br kept
      // encoded, request/trunc edge rows), computed independently of
      // the engine — q16's rule
      "q101_http_payload" ->
        """SELECT * FROM (VALUES
          |  ('http://t/badstatus', CAST(NULL AS BIGINT), 'x/y', CAST(9 AS BIGINT),
          |   'c4a804aab7d55989f3eaaf1e09f1e524a24ec47c352a5caa3ba63c46e1d17aed'),
          |  ('http://t/brotli', CAST(200 AS BIGINT), 'text/html', CAST(19 AS BIGINT),
          |   '328eae1ba9403bf4226450ba9bf2ec39ac03934879e10f0549e30dca00d970d0'),
          |  ('http://t/chunked', CAST(200 AS BIGINT), 'text/plain', CAST(33 AS BIGINT),
          |   'ffae2152cdbac81cfb16a497598f561a84edb3acd4b22531ca75fc46de368f7e'),
          |  ('http://t/deflate', CAST(200 AS BIGINT), 'text/html', CAST(42 AS BIGINT),
          |   '586d7a508d5d281e7afbdad827c294c96f9803715a413a08e2018070b215b9a2'),
          |  ('http://t/gzip', CAST(200 AS BIGINT), 'text/html', CAST(87 AS BIGINT),
          |   'f33351fcef8898a404a4eaa0598fcb8e6df3750e607ba4c3e3df4ff5213d135d'),
          |  ('http://t/gzip-chunked', CAST(200 AS BIGINT), 'text/html', CAST(76 AS BIGINT),
          |   'cfb522aae2e305d686722d495d6464a9d5d4b7383bbe40e57a196d96b30e73d6'),
          |  ('http://t/plain', CAST(200 AS BIGINT), 'text/html; charset=UTF-8', CAST(19 AS BIGINT),
          |   'e1e54bf71542cb04326c1be75988ebcadcd3a8c6cbba44209d68b3ef03399673'),
          |  ('http://t/req', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(28 AS BIGINT),
          |   '7dee6ae752438d978cdb1bbc796fff60f5be3ce1faa90553949639eb86e0c18f'),
          |  ('http://t/trunc', CAST(204 AS BIGINT), 'text/empty', CAST(0 AS BIGINT),
          |   'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855'),
          |  ('http://t/zstd', CAST(200 AS BIGINT), 'text/html', CAST(90 AS BIGINT),
          |   'c781b6607968bca0e7baa6d86081fb2da7e66c823e5a49199265c12588e529d2'))
          |  AS t(path, status, content_type, payload_size, payload_sha256)
          |ORDER BY path""".stripMargin,
      // --http-payload converter mode: the same independently-computed
      // spec digests as q101 — the converter's RECOMPUTED hash must
      // land on them exactly
      "q103_http_convert" ->
        """SELECT * FROM (VALUES
          |  ('http://t/badstatus', CAST(9 AS BIGINT),
          |   'c4a804aab7d55989f3eaaf1e09f1e524a24ec47c352a5caa3ba63c46e1d17aed',
          |   CAST(NULL AS BIGINT), 'x/y'),
          |  ('http://t/brotli', CAST(19 AS BIGINT),
          |   '328eae1ba9403bf4226450ba9bf2ec39ac03934879e10f0549e30dca00d970d0',
          |   CAST(200 AS BIGINT), 'text/html'),
          |  ('http://t/chunked', CAST(33 AS BIGINT),
          |   'ffae2152cdbac81cfb16a497598f561a84edb3acd4b22531ca75fc46de368f7e',
          |   CAST(200 AS BIGINT), 'text/plain'),
          |  ('http://t/deflate', CAST(42 AS BIGINT),
          |   '586d7a508d5d281e7afbdad827c294c96f9803715a413a08e2018070b215b9a2',
          |   CAST(200 AS BIGINT), 'text/html'),
          |  ('http://t/gzip', CAST(87 AS BIGINT),
          |   'f33351fcef8898a404a4eaa0598fcb8e6df3750e607ba4c3e3df4ff5213d135d',
          |   CAST(200 AS BIGINT), 'text/html'),
          |  ('http://t/gzip-chunked', CAST(76 AS BIGINT),
          |   'cfb522aae2e305d686722d495d6464a9d5d4b7383bbe40e57a196d96b30e73d6',
          |   CAST(200 AS BIGINT), 'text/html'),
          |  ('http://t/plain', CAST(19 AS BIGINT),
          |   'e1e54bf71542cb04326c1be75988ebcadcd3a8c6cbba44209d68b3ef03399673',
          |   CAST(200 AS BIGINT), 'text/html; charset=UTF-8'),
          |  ('http://t/req', CAST(28 AS BIGINT),
          |   '7dee6ae752438d978cdb1bbc796fff60f5be3ce1faa90553949639eb86e0c18f',
          |   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)),
          |  ('http://t/trunc', CAST(0 AS BIGINT),
          |   'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855',
          |   CAST(204 AS BIGINT), 'text/empty'),
          |  ('http://t/zstd', CAST(90 AS BIGINT),
          |   'c781b6607968bca0e7baa6d86081fb2da7e66c823e5a49199265c12588e529d2',
          |   CAST(200 AS BIGINT), 'text/html'))
          |  AS t(path, size, payload_sha256, status, content_type)
          |ORDER BY path""".stripMargin,
      // charset decode: expected md5/length of each decoded case,
      // computed by an INDEPENDENT implementation (Python codecs) over
      // the shared case table — q16's rule
      "q104_charset_decode" ->
        """SELECT * FROM (VALUES
          |  ('c01_latin1', '22cfb630e1da4ea27cc0456222465dd5', CAST(12 AS BIGINT)),
          |  ('c02_win1252', '397cb062c97d15bc18329ff5c1510776', CAST(17 AS BIGINT)),
          |  ('c03_bom_utf8', '6396cddad62ed4cd1df3419571efb86d', CAST(10 AS BIGINT)),
          |  ('c04_bom_utf16le', 'bdf89c9c0ad0f5ed6aa134d0ff9f57b8', CAST(10 AS BIGINT)),
          |  ('c05_bad_utf8', 'ac525cea2347e2b88736ebae779ce0b0', CAST(5 AS BIGINT)),
          |  ('c06_unknown_cs', '829fba0739e1936f4bc07b8441b60069', CAST(12 AS BIGINT)),
          |  ('c07_bare_hint', '07117fe4a1ebd544965dc19573183da2', CAST(4 AS BIGINT)),
          |  ('c08_sjis', 'f95716c1bda20a02d24c31e402d795d2', CAST(6 AS BIGINT)),
          |  ('c09_bom_utf16be', '905824030bde0411ad3d686a5aaf2630', CAST(7 AS BIGINT)),
          |  ('c10_no_hint', 'f15c50559ebf770bb32bf3a048051570', CAST(9 AS BIGINT)),
          |  ('c11_meta', 'd598178d8c6663decd0f9cf7c10a34e3', CAST(31 AS BIGINT)),
          |  ('c12_meta_httpequiv', '0adb32cb24b4ececbd13f6c0e436635d', CAST(75 AS BIGINT)),
          |  ('c13_header_beats_meta', '1cf9d3fa166e508ce19aa19b90fc6ca6', CAST(27 AS BIGINT)))
          |  AS t(case_id, text_md5, n_chars)
          |ORDER BY case_id""".stripMargin,
      // q105: every output derived from the page-synthesis spec, not
      // from parsing HTML (q16-rule independent path). Blocks = title
      // + (3 + doc_id%5) nav lis + h1 + content p + footer = 7 +
      // doc_id%5; only the content <p> can classify as content: its
      // cleaned text is text||' see details here now' (length+21,
      // 12 link chars), title/h1/lis fail the 150-char gate (lis are
      // density 1.0 too) and the 128-char footer carries 36 link
      // chars = density 0.28125 > 0.2. Same IEEE double division on
      // both sides; md5('') is the no-content sentinel.
      "q105_main_content" ->
        s"""SELECT doc_id,
           |  CAST(7 + doc_id % 5 AS BIGINT) AS n_blocks,
           |  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS n_content,
           |  CAST(CASE WHEN ok THEN length(text) + ${MainContentSuffix.length}
           |       ELSE 0 END AS BIGINT) AS content_len,
           |  CASE WHEN ok THEN md5(text || '$MainContentSuffix')
           |       ELSE md5('') END AS content_md5
           |FROM (SELECT doc_id, text,
           |  length(text) + ${MainContentSuffix.length} >= $MainContentMinLen
           |  AND ${MainContentLinkText.length}.0 /
           |      (length(text) + ${MainContentSuffix.length})
           |      <= $MainContentMaxLinkDensity AS ok
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin,
      // q106: exact heavy hitters (count·k > n) from a real GROUP BY
      // over the same zipf-like key derivation; the sketch guarantees
      // (membership above n/k, underestimate within n/k) are
      // order-independent theorems, stated as TRUE — q68's rule
      "q106_freq_items" ->
        s"""WITH li AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey > 0),
           |m AS (SELECT max(l_orderkey) AS m, count(*) AS n FROM li),
           |keys AS (SELECT 'pg' || CAST(m.m // l_orderkey AS VARCHAR) AS tok
           |         FROM li, m)
           |SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt,
           |       TRUE AS in_sketch, TRUE AS within_bound
           |FROM keys, m GROUP BY tok, m.n
           |HAVING count(*) * $FreqItemsK > m.n
           |ORDER BY exact_cnt DESC, tok""".stripMargin,
      // q107/q108: edges derived from the linkGraphEdges synthesis
      // spec — per doc, the 8 fetchable targets with their resolved +
      // sort-query-normalized URL (the mailto/comment/script anchors
      // contribute nothing by construction)
      "q107_link_graph" ->
        s"""$linkEdgesSql
           |SELECT 'site' || CAST(d.m AS VARCHAR) || '.com' AS src_domain,
           |       l.dst AS dst_domain,
           |       CAST(count(*) AS BIGINT) AS n_links,
           |       CAST(count(DISTINCT l.u) AS BIGINT) AS n_urls
           |FROM links l JOIN docs d USING (doc_id)
           |GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin,
      "q108_pagerank" ->
        s"""$linkEdgesSql,
           |${pageRankIterSql(LinkGraphIters, LinkGraphDamping)}
           |SELECT node, round(pr, 6) AS pr FROM r$LinkGraphIters
           |ORDER BY node""".stripMargin,
      // q124: the site-to-site subgraph closed transitively (the q33
      // rule) — the synthesis makes it the permutation m -> (7m+1)%25,
      // so the clusters are its cycles; rep = lexicographic min member
      "q124_site_clusters" ->
        s"""${linkEdgesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |he AS (SELECT DISTINCT
           |         'site' || CAST(d.m AS VARCHAR) || '.com' AS src,
           |         l.dst AS dst
           |       FROM links l JOIN docs d USING (doc_id)
           |       WHERE l.dst LIKE 'site%'),
           |e AS (SELECT src, dst FROM he UNION SELECT dst, src FROM he),
           |reach(id, r) AS (
           |  SELECT src, src FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
           |comp AS (SELECT id AS host, MIN(r) AS cluster_rep
           |         FROM reach GROUP BY id),
           |sz AS (SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
           |       FROM comp GROUP BY cluster_rep)
           |SELECT host, cluster_rep, cluster_size
           |FROM comp JOIN sz USING (cluster_rep)
           |ORDER BY host""".stripMargin,
      // q109: every verdict is spec-determined — the section probe is
      // denied iff it hits the doc's own Disallow section, the $-
      // anchored Allow admits the exact path and nothing deeper, the
      // *.gif$ wildcard anchors on the extension, and the otherbot
      // probe falls to the catch-all only where the synthesis emits
      // one (even ids)
      "q109_robots_gate" ->
        """SELECT doc_id,
          |  CASE WHEN doc_id % 2 = doc_id % 3 THEN FALSE ELSE TRUE END AS a_sect,
          |  TRUE AS a_allow,
          |  FALSE AS a_deep,
          |  FALSE AS a_gif,
          |  TRUE AS a_gifx,
          |  CASE WHEN doc_id % 2 = 0 THEN FALSE ELSE TRUE END AS a_star
          |FROM documents
          |ORDER BY doc_id""".stripMargin,
      // q110: sample values are spec-determined integers; their sums
      // stay below 2^53 so double aggregation is exact on both
      // engines regardless of order — mean/RMS/peak recompute from
      // the same arithmetic over range(n)
      "q110_audio_decode" ->
        """WITH f AS (
          |  SELECT doc_id, 800 + (doc_id % 5) * 80 AS n,
          |         doc_id % 2 = 0 AS is8
          |  FROM documents),
          |s AS (
          |  SELECT f.doc_id, f.n, f.is8,
          |         CASE WHEN f.is8 THEN CAST((f.doc_id + t.i) % 256 AS DOUBLE)
          |              ELSE CAST((f.doc_id * 31 + t.i * 7) % 65536 - 32768 AS DOUBLE)
          |         END AS v
          |  FROM f, range(1120) t(i) WHERE t.i < f.n)
          |SELECT doc_id, 'wav' AS format,
          |       CAST(1 AS INTEGER) AS channels,
          |       CAST(8000 AS INTEGER) AS sample_rate,
          |       CAST(CASE WHEN is8 THEN 8 ELSE 16 END AS INTEGER) AS bits,
          |       CAST(n AS BIGINT) AS frames,
          |       round(avg(v), 6) AS mean_c0,
          |       round(sqrt(avg(v * v)), 6) AS rms_c0,
          |       max(abs(v)) AS peak_c0
          |FROM s GROUP BY doc_id, n, is8
          |ORDER BY doc_id""".stripMargin,
      // q111: every field is spec-determined from (doc_id, ord) — the
      // urlset face enumerates 2 + doc_id%3 entries (entity-escaped
      // loc at ord 0, CDATA at 1, malformed priority at 3 → null),
      // the index face (doc_id%5=0) two sitemap entries
      "q111_sitemap" ->
        """WITH u AS (
          |  SELECT doc_id, CAST(t.i AS BIGINT) AS ord,
          |         'http://s' || (doc_id % 7) || '.example.com' AS host
          |  FROM documents, range(4) t(i)
          |  WHERE doc_id % 5 <> 0 AND t.i < 2 + doc_id % 3),
          |x AS (
          |  SELECT doc_id, ord,
          |    CASE ord
          |      WHEN 0 THEN host || '/p?a=1&b=' || (doc_id % 4)
          |      WHEN 1 THEN host || '/c/' || (doc_id % 3)
          |      WHEN 2 THEN host || '/p' || doc_id || '/2'
          |      ELSE host || '/p' || doc_id || '/3' END AS loc,
          |    'url' AS kind,
          |    CASE WHEN ord IN (0, 2)
          |         THEN '2024-0' || (doc_id % 9 + 1) || '-15' END AS lastmod,
          |    CASE WHEN ord = 1 THEN
          |      CASE doc_id % 3 WHEN 0 THEN 'daily'
          |           WHEN 1 THEN 'weekly' ELSE 'monthly' END END AS changefreq,
          |    CASE WHEN ord < 3
          |         THEN round(((doc_id + ord) % 10) / 10.0, 1) END AS priority
          |  FROM u
          |  UNION ALL
          |  SELECT doc_id, CAST(t.j AS BIGINT) AS ord,
          |    'http://s' || (doc_id % 7) || '.example.com/sm' || t.j || '.xml',
          |    'sitemap',
          |    CASE WHEN t.j = 0 THEN '2024-0' || (doc_id % 9 + 1) || '-15' END,
          |    CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
          |  FROM documents, range(2) t(j) WHERE doc_id % 5 = 0)
          |SELECT doc_id, ord, loc, kind, lastmod, changefreq, priority
          |FROM x ORDER BY doc_id, ord""".stripMargin,
      // q112: the frontier pipeline restated from the q111 synthesis
      // spec — admission verdicts are closed-form (ord 0 denied iff
      // b=2 hits the /p?*b=2 glob, ord 1 admitted iff the /c/0 Allow
      // outranks /c/, ords 2-3 match no rule), missing priority takes
      // the sitemaps.org default 0.5, dedup keeps max priority, and
      // the per-host top-2 is a window the engine's bounded
      // aggregator must agree with exactly
      "q112_frontier" ->
        """WITH u AS (
          |  SELECT doc_id, CAST(t.i AS BIGINT) AS ord,
          |         's' || (doc_id % 7) || '.example.com' AS host
          |  FROM documents, range(4) t(i)
          |  WHERE doc_id % 5 <> 0 AND t.i < 2 + doc_id % 3),
          |e AS (
          |  SELECT host,
          |    CASE ord
          |      WHEN 0 THEN 'http://' || host || '/p?a=1&b=' || (doc_id % 4)
          |      WHEN 1 THEN 'http://' || host || '/c/' || (doc_id % 3)
          |      WHEN 2 THEN 'http://' || host || '/p' || doc_id || '/2'
          |      ELSE 'http://' || host || '/p' || doc_id || '/3' END AS loc,
          |    CASE WHEN ord < 3
          |         THEN round(((doc_id + ord) % 10) / 10.0, 1)
          |         ELSE 0.5 END AS pri,
          |    CASE WHEN ord = 0 THEN doc_id % 4 <> 2
          |         WHEN ord = 1 THEN doc_id % 3 = 0
          |         ELSE TRUE END AS admitted
          |  FROM u),
          |g AS (
          |  SELECT host, loc, max(pri) AS pri
          |  FROM e WHERE admitted GROUP BY host, loc),
          |r AS (
          |  SELECT host, loc, pri,
          |         row_number() OVER (PARTITION BY host
          |                            ORDER BY pri DESC, loc) AS rank
          |  FROM g)
          |SELECT host, CAST(rank AS BIGINT) AS rank, loc, pri
          |FROM r WHERE rank <= 2 ORDER BY host, rank""".stripMargin,
      // q113: the oracle states each expected SURT key as ONE literal
      // from the synthesis spec — scheme drop, www strip, label
      // reversal, default-port drop / non-default keep, lowercase and
      // query sort must all land for the strings to hash-match
      "q113_cdx_keys" ->
        """WITH u AS (
          |  SELECT 'com,example,s' || (doc_id % 7) || ')/a' ||
          |         (doc_id % 11) || '/b?a=1&b=' || (doc_id % 3) AS cdx_key
          |  FROM documents
          |  UNION ALL
          |  SELECT 'com,example,s' || (doc_id % 7) || ':8443)/c/' ||
          |         (doc_id % 5)
          |  FROM documents)
          |SELECT cdx_key, CAST(count(*) AS BIGINT) AS n
          |FROM u GROUP BY cdx_key ORDER BY cdx_key""".stripMargin,
      // q125: the read-back rows restated from the synthesis spec —
      // shard com,example,s3 (doc_id%7=3), prefix )/a1 admits the
      // a1/ and a10/ paths (doc_id%11 in (1,10)); counts and min doc
      // ids come from the same arithmetic over documents
      "q125_cdx_scan" ->
        """WITH m AS (
          |  SELECT doc_id,
          |         'com,example,s3)/a' || (doc_id % 11) ||
          |         '/b?a=1&b=' || (doc_id % 3) AS cdx_key
          |  FROM documents
          |  WHERE doc_id % 7 = 3 AND doc_id % 11 IN (1, 10))
          |SELECT cdx_key, CAST(count(*) AS BIGINT) AS n,
          |       min(doc_id) AS min_doc
          |FROM m GROUP BY cdx_key ORDER BY cdx_key""".stripMargin,
      // q126: expected BPE token counts computed by the independent
      // reference implementation (tools/train_bpe.py --cases) over the
      // shared case table — the q104 rule
      "q126_bpe_tokens" ->
        """SELECT * FROM (VALUES
          |  ('c01_common', CAST(5 AS BIGINT)),
          |  ('c02_sentence', CAST(23 AS BIGINT)),
          |  ('c03_tech', CAST(7 AS BIGINT)),
          |  ('c04_repeat', CAST(11 AS BIGINT)),
          |  ('c05_case', CAST(6 AS BIGINT)),
          |  ('c06_punct', CAST(19 AS BIGINT)),
          |  ('c07_digits', CAST(18 AS BIGINT)),
          |  ('c08_unseen', CAST(12 AS BIGINT)),
          |  ('c09_singles', CAST(5 AS BIGINT)),
          |  ('c10_long', CAST(22 AS BIGINT)),
          |  ('c11_mixed', CAST(14 AS BIGINT)),
          |  ('c12_unicode', CAST(5 AS BIGINT)))
          |  AS t(case_id, bpe_tokens)
          |ORDER BY case_id""".stripMargin,
      // q127: the redacted text restated with placeholders straight
      // from the synthesis spec (the q16 rule) — every match AND
      // every near-miss boundary rule is load-bearing in the md5
      "q127_pii_redact" ->
        """WITH m AS (
          |  SELECT doc_id,
          |    'reach <EMAIL>' ||
          |    CASE WHEN doc_id % 2 = 0 THEN ' or <EMAIL>' ELSE '' END ||
          |    ' not bad@host or x@y.z ip <IP> dead 300.' || (doc_id % 10) ||
          |    '.1.1 ver v1.2.3.' || (doc_id % 9) ||
          |    ' call <PHONE> pin ' || (10 + doc_id % 90) ||
          |    ' key <KEY> short n' ||
          |    substr(md5(CAST(doc_id AS VARCHAR) || 's'), 1, 30) ||
          |    ' log 2024-07-15 <IP> ts 2023-11-02 <PHONE>' ||
          |    ' end <IP>.' AS clean
          |  FROM documents)
          |SELECT doc_id, md5(clean) AS clean_md5,
          |       CAST(length(clean) AS BIGINT) AS clean_len,
          |       CAST(1 + (doc_id + 1) % 2 AS BIGINT) AS n_email,
          |       CAST(3 AS BIGINT) AS n_ip,
          |       CAST(2 AS BIGINT) AS n_phone,
          |       CAST(1 AS BIGINT) AS n_key
          |FROM m ORDER BY doc_id""".stripMargin,
      // q128: q33's recursive closure + singleton fill + the shared
      // md5 bucket arithmetic over the CLUSTER id — cluster labels
      // and cluster-granular bucketing both load-bearing. q141 (the
      // split answered from the at-rest signature index) shares the
      // chain VERBATIM: reading stored signatures must land on the
      // identical clusters and buckets the from-raw-text path computes
      "q128_leakfree_split" -> leakFreeSplitOracle,
      // q129: the full PQ/ADC recomputation from the deterministic
      // codebooks — subspace slices of the 16 smallest-id vectors
      // (the q37 rule), per-subspace argmin with ties to the smaller
      // centroid, the all-ones query's ADC table, and the lookup sum
      // folded in subspace order (list over ORDER BY m — the same
      // left-to-right IEEE add chain the engine's fixed m-order
      // column sum performs)
      "q129_ann_pq" ->
        """WITH cb AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
          |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
          |sub AS (
          |  SELECT e.vec_id, m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE) *
          |           (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE))) AS d
          |  FROM embeddings e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
          |code AS (
          |  SELECT vec_id, m, j FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
          |lut AS (
          |  SELECT m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (1.0 - cb.c[m.m*8+i]::DOUBLE) * (1.0 - cb.c[m.m*8+i]::DOUBLE))) AS ld
          |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
          |adc AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN lut l ON l.m = c.m AND l.j = c.j
          |  GROUP BY c.vec_id)
          |SELECT vec_id, round(dist, 6) AS adc FROM adc
          |ORDER BY adc, vec_id LIMIT 10""".stripMargin,
      // q133: q20's token class + q24's language table + q17's exact
      // hash multiplicity (corpus-wide, counted per source) + the
      // shared avg rounding — one data-card row per source; a NULL
      // source coalesces to the '(unknown)' sentinel on both sides
      "q133_data_card" ->
        s"""WITH w AS (SELECT doc_id, COALESCE(source, '(unknown)') AS source,
           |           text, $toks AS t FROM documents),
           |tok AS (SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS BIGINT) AS tc,
           |    md5(text) AS h, t FROM w),
           |l AS (SELECT * FROM (VALUES
           |  ('de', ['der','die','das','und','ist','mit','nicht']),
           |  ('en', ['the','and','of','to','is','with','that']),
           |  ('es', ['el','la','los','que','es','con','para']),
           |  ('fr', ['le','les','des','est','avec','pour','dans']),
           |  ('zh', ['de','shi','le','zai','you','wo','ta'])) AS t(lang, m)),
           |s AS (SELECT tok.doc_id, l.lang,
           |        len(list_filter(tok.t, x -> list_contains(l.m, x))) AS hits
           |      FROM tok CROSS JOIN l),
           |g AS (SELECT doc_id, lang AS guess FROM s
           |      QUALIFY row_number() OVER (PARTITION BY doc_id
           |                                 ORDER BY hits DESC, lang) = 1),
           |d AS (SELECT doc_id, source, tc,
           |        COUNT(*) OVER (PARTITION BY h) AS nh FROM tok),
           |st AS (SELECT source, COUNT(*) AS n_docs,
           |         CAST(SUM(tc) AS BIGINT) AS total_tokens,
           |         round(CAST(SUM(tc) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
           |         CAST(COUNT(*) FILTER (WHERE nh > 1) AS BIGINT) AS n_exact_dup
           |       FROM d GROUP BY source),
           |lc AS (SELECT tok.source, g.guess, COUNT(*) AS cnt
           |       FROM tok JOIN g USING (doc_id) GROUP BY tok.source, g.guess),
           |tl AS (SELECT source, guess AS top_lang FROM lc
           |       QUALIFY row_number() OVER (PARTITION BY source
           |                                  ORDER BY cnt DESC, guess) = 1)
           |SELECT st.source, n_docs, total_tokens, avg_tokens, n_exact_dup, top_lang
           |FROM st JOIN tl USING (source) ORDER BY source""".stripMargin,
      // q134: every expected string restated in chr() arithmetic from
      // the synthesis spec (the q16 rule): case 0 repairs once to
      // chr(233)='é', case 1 is GENUINE Latin-1 and must pass through
      // untouched, case 2 repairs twice (double-encoded), case 3
      // repairs the CP1252 smart quote to chr(8220)
      "q134_fix_mojibake" ->
        """WITH b AS (SELECT doc_id, substr(text, 1, 16) || ' ' AS pre FROM documents)
          |SELECT doc_id,
          |  CASE doc_id % 4
          |    WHEN 0 THEN pre || 'caf' || chr(233)
          |    WHEN 1 THEN pre || 'se' || chr(241) || 'or'
          |    WHEN 2 THEN pre || chr(233)
          |    ELSE pre || 'q' || chr(8220) || 'x'
          |  END AS fixed
          |FROM b ORDER BY doc_id""".stripMargin,
      // q130: the totals split + md5 admission order + running-sum
      // cutoff — under-budget sources keep every row (tot <= 1400),
      // over-budget sources keep the md5-ordered prefix whose running
      // token total stays within budget
      "q130_token_budget" ->
        s"""WITH q AS (SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS BIGINT)
           |      AS n_tokens,
           |    ${md5h("'17:' || CAST(doc_id AS VARCHAR)")} AS pr
           |  FROM documents),
           |t AS (SELECT source, SUM(n_tokens) AS tot FROM q GROUP BY source),
           |c AS (SELECT q.doc_id, q.source, q.n_tokens, t.tot,
           |    SUM(q.n_tokens) OVER (PARTITION BY q.source ORDER BY q.pr, q.doc_id
           |                          ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM q JOIN t USING (source))
           |SELECT doc_id, source, n_tokens FROM c
           |WHERE tot <= 1400 OR cum <= 1400
           |ORDER BY doc_id""".stripMargin,
      // q145: q130's totals/cumsum CTEs against a PER-SOURCE budget —
      // even-numbered sources straddle at 1300 (both regimes live),
      // odd-numbered fall to the 50000 default (the map-miss fill)
      "q145_token_budget_weighted" ->
        s"""WITH q AS (SELECT doc_id, source,
           |    CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS BIGINT)
           |      AS n_tokens,
           |    ${md5h("'17:' || CAST(doc_id AS VARCHAR)")} AS pr
           |  FROM documents),
           |t AS (SELECT source, SUM(n_tokens) AS tot FROM q GROUP BY source),
           |b AS (SELECT source,
           |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
           |         THEN 1300 ELSE 50000 END AS bud
           |  FROM (SELECT DISTINCT source FROM documents)),
           |c AS (SELECT q.doc_id, q.source, q.n_tokens, t.tot, b.bud,
           |    SUM(q.n_tokens) OVER (PARTITION BY q.source ORDER BY q.pr, q.doc_id
           |                          ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM q JOIN t USING (source) JOIN b USING (source))
           |SELECT doc_id, source, n_tokens FROM c
           |WHERE tot <= bud OR cum <= bud
           |ORDER BY doc_id""".stripMargin,
      // q131: the q18 rule across the parity split — banded candidacy
      // is complete at 0.8 (the q18-verified property), so the index
      // path must land on ALL (even-corpus, odd-batch) pairs with
      // Jaccard >= 0.8, min corpus id per new doc
      "q131_incr_neardup" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
           |s AS (SELECT doc_id,
           |        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                       for i in range(1, len(t) - 1)]) AS sh
           |      FROM w),
           |p AS (SELECT o.doc_id AS old_id, n.doc_id AS new_id,
           |        round(CAST(len(list_intersect(o.sh, n.sh)) AS DOUBLE) /
           |              CAST(len(list_distinct(list_concat(o.sh, n.sh))) AS DOUBLE), 6)
           |          AS j
           |      FROM s o JOIN s n ON o.doc_id % 2 = 0 AND n.doc_id % 2 = 1)
           |SELECT new_id AS doc_id, MIN(old_id) AS dup_of
           |FROM p WHERE j >= 0.8 GROUP BY new_id ORDER BY doc_id""".stripMargin,
      "q132_ann_ivfpq" -> ivfPqOracle,
      // q135: the at-rest read-back must land on the SAME top-k the
      // in-flight face (q132) computes from the identical CTE chain
      "q135_ann_atrest" -> ivfPqOracle,
      // q138: the merged (corpus-written + increment-appended) layout
      // must land on the chain recomputed with corpus-only codebooks
      // over ALL vectors — append correctness AND no-retrain encoding
      // are both load-bearing
      "q138_ann_append" -> ivfPqOracleFrom("WHERE vec_id % 5 <> 0"),
      // q157: the STREAMED layout must land on the same recomputed
      // full-table top-k as q138's batch appends — corpus-trained
      // codebooks, stream-encoded increments, probe over
      // base + increments all load-bearing
      "q157_streaming_ann" -> ivfPqOracleFrom("WHERE vec_id % 5 <> 0"),
      // q139: the --wet converter mode must land on q122's
      // independently-computed digests — the chain as ONE production
      // CLI pass (decode, charset, main content, NFC, round-tripped
      // through the binary content column)
      "q139_wet_convert" -> warcWetOracle,
      // q141: the index-read split must land on q128's exact chain —
      // same clusters, same buckets, zero signature recompute
      "q141_split_from_index" -> leakFreeSplitOracle,
      // q142: the index-read winner election must land on q75's exact
      // closure chain — identical survivor set, zero re-minhashing
      "q142_winners_from_index" -> neardupWinnersOracle,
      // q143: the self-contained probe (codebooks loaded back from the
      // layout's sidecar) must land on the q132/q135 recomputed top-k
      "q143_ann_self_contained" -> ivfPqOracle,
      // q144: probing the COMPACTED layout must land on q138's chain —
      // a rewrite that loses, duplicates or re-cells one code row
      // lands off the recomputed top-k
      "q144_ann_compact" -> ivfPqOracleFrom("WHERE vec_id % 5 <> 0"),
      // q146: the filtered probe must land on the chain with the SAME
      // predicate restricting the probed rows before ranking
      "q146_ann_filtered" -> ivfPqOracleFrom("", "WHERE a.vec_id % 4 = 1"),
      // q147: the residual-encoded chain (see ivfPqResidualOracle)
      "q147_ann_residual" -> ivfPqResidualOracle,
      // q148: the residual chain at rest — corpus-only codebooks over
      // ALL vectors (write + no-retrain append), residual-coordinate
      // encode/ADC (see ivfPqResidualAtRestOracleFrom)
      "q148_ann_residual_atrest" ->
        ivfPqResidualAtRestOracleFrom("WHERE vec_id % 5 <> 0"),
      // q149: after tombstone compaction the probe must rank ONLY
      // surviving rows (codebooks stay full-corpus — the layout was
      // written before the removal): a retired id surviving the
      // rewrite lands off this top-k
      "q149_ann_tombstone" -> ivfPqOracleFrom("", "WHERE a.vec_id % 7 <> 0"),
      // q150: q18's exact-Jaccard pairs restricted to surviving ids —
      // one stale signature row = one extra pair
      "q150_neardup_tombstone" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents
           |           WHERE doc_id % 3 <> 0),
           |s AS (SELECT doc_id,
           |        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                       for i in range(1, len(t) - 1)]) AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |              CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)
           |          AS jaccard
           |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,
      // q151: the drift metric — per-(vector, subspace) distance to
      // EVERY codebook entry (the proven q129/q148 `sub` arithmetic),
      // min over entries (the argmin distance IS the ADC
      // reconstruction error — no code round-trip), summed in
      // subspace order (the proven list(... ORDER BY m) fold),
      // averaged per cohort; codebook CTEs corpus-restricted (the
      // q138/q148 append play)
      "q151_quant_drift" ->
        """WITH cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |cb AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
          |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
          |        ORDER BY vec_id LIMIT 16)),
          |rcb AS (
          |  SELECT row_number() OVER (ORDER BY a.vec_id) - 1 AS j,
          |    list_transform(generate_series(1, 64),
          |      i -> a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) AS r
          |  FROM (SELECT vec_id, embedding, cent_id FROM assigned
          |        WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16) a
          |  JOIN cmeta c USING (cent_id)),
          |sub_pq AS (
          |  SELECT e.vec_id, m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE) *
          |           (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE))) AS d
          |  FROM embeddings e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
          |min_pq AS (SELECT vec_id, m, min(d) AS dm FROM sub_pq GROUP BY 1, 2),
          |err_pq AS (SELECT vec_id, list_sum(list(dm ORDER BY m)) AS e
          |           FROM min_pq GROUP BY 1),
          |sub_rpq AS (
          |  SELECT a.vec_id, m.m, rb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> ((a.embedding[m.m*8+i]::DOUBLE - c.cvec[m.m*8+i]::DOUBLE) -
          |              rb.r[m.m*8+i]) *
          |           ((a.embedding[m.m*8+i]::DOUBLE - c.cvec[m.m*8+i]::DOUBLE) -
          |              rb.r[m.m*8+i]))) AS d
          |  FROM assigned a JOIN cmeta c USING (cent_id)
          |  CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
          |min_rpq AS (SELECT vec_id, m, min(d) AS dm FROM sub_rpq GROUP BY 1, 2),
          |err_rpq AS (SELECT vec_id, list_sum(list(dm ORDER BY m)) AS e
          |            FROM min_rpq GROUP BY 1)
          |SELECT CASE WHEN p.vec_id % 5 = 0 THEN 'batch' ELSE 'corpus' END AS cohort,
          |  round(avg(p.e), 6) AS pq_err, round(avg(r.e), 6) AS rpq_err
          |FROM err_pq p JOIN err_rpq r USING (vec_id)
          |GROUP BY 1 ORDER BY cohort""".stripMargin,
      // q156: AnnIndex.maintain's append-or-rebuild decision, BOTH
      // regimes — all four error terms from q151's proven
      // min-over-entries arithmetic (fresh codebooks = the batch's
      // own 16 smallest-id vectors; the drifted pair shifts vector
      // AND codebook by +4.0 in double, exactly as the engine does),
      // then the 2.0-threshold CASE on the UNROUNDED terms
      "q156_ann_maintain" -> {
        def err(vecs: String, cb: String): String =
          s"""(SELECT avg(e) FROM (
             |   SELECT vec_id, list_sum(list(dm ORDER BY m)) AS e FROM (
             |     SELECT v.vec_id, m.m,
             |       min(list_sum(list_transform(generate_series(1, 8),
             |         i -> (v.emb[m.m*8+i] - w.c[m.m*8+i]) *
             |              (v.emb[m.m*8+i] - w.c[m.m*8+i])))) AS dm
             |     FROM $vecs v CROSS JOIN generate_series(0, 7) m(m)
             |     CROSS JOIN $cb w
             |     GROUP BY v.vec_id, m.m)
             |   GROUP BY vec_id))""".stripMargin
        s"""WITH corpus_cb AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |         list_transform(embedding, x -> x::DOUBLE) AS c
           |  FROM (SELECT vec_id, embedding FROM embeddings
           |        WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16)),
           |batch_cb AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |         list_transform(embedding, x -> x::DOUBLE) AS c
           |  FROM (SELECT vec_id, embedding FROM embeddings
           |        WHERE vec_id % 5 = 0 ORDER BY vec_id LIMIT 16)),
           |drift_cb AS (
           |  SELECT j, list_transform(c, x -> x + 4.0) AS c FROM batch_cb),
           |batch AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           |  FROM embeddings WHERE vec_id % 5 = 0),
           |drift AS (
           |  SELECT vec_id + 10000 AS vec_id,
           |         list_transform(embedding, x -> x::DOUBLE + 4.0) AS emb
           |  FROM embeddings WHERE vec_id % 5 = 0),
           |errs AS (
           |  SELECT 'indist' AS regime,
           |    ${err("batch", "corpus_cb")} AS stored_err,
           |    ${err("batch", "batch_cb")} AS fresh_err
           |  UNION ALL
           |  SELECT 'drift',
           |    ${err("drift", "corpus_cb")},
           |    ${err("drift", "drift_cb")})
           |SELECT regime,
           |  CASE WHEN stored_err <= 2.0 * fresh_err THEN 'append'
           |       ELSE 'rebuild' END AS action,
           |  round(stored_err, 6) AS stored_err,
           |  round(fresh_err, 6) AS fresh_err
           |FROM errs ORDER BY regime""".stripMargin
      },
      // q158: AnnIndex.maintain's REBUILD path at nlist=16 — the q132
      // probe chain recomputed over the UNION table (raw corpus +
      // drifted %5==0 cohort at its original ids) with UNION-trained
      // codebooks: the retrain (which mixes drifted vectors into the
      // smallest-id sample), the full re-encode and the generation
      // swap are all load-bearing in one hash
      "q158_ann_rebuild" ->
        """WITH uni AS (
          |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
          |  FROM embeddings WHERE vec_id % 5 <> 0
          |  UNION ALL
          |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE + 4.0)
          |  FROM embeddings WHERE vec_id % 5 = 0),
          |cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x * x for x in embedding])) AS cnorm
          |  FROM uni ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i] * c.cvec[i]))
          |      / (sqrt(list_sum([x * x for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM uni e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |probed AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
          |           cent_id
          |  LIMIT 4),
          |sel AS (
          |  SELECT a.vec_id, a.embedding FROM assigned a
          |  JOIN probed p USING (cent_id)),
          |cb AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
          |  FROM (SELECT vec_id, embedding FROM uni ORDER BY vec_id LIMIT 16)),
          |sub AS (
          |  SELECT e.vec_id, m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (e.embedding[m.m*8+i] - cb.c[m.m*8+i]) *
          |           (e.embedding[m.m*8+i] - cb.c[m.m*8+i]))) AS d
          |  FROM sel e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
          |code AS (
          |  SELECT vec_id, m, j FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
          |lut AS (
          |  SELECT m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (1.0 - cb.c[m.m*8+i]) * (1.0 - cb.c[m.m*8+i]))) AS ld
          |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
          |adc AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN lut l ON l.m = c.m AND l.j = c.j
          |  GROUP BY c.vec_id)
          |SELECT vec_id, round(dist, 6) AS adc FROM adc
          |ORDER BY adc, vec_id LIMIT 10""".stripMargin,
      // q160: the batched multi-query probe — both probe sets (ones:
      // top-4 cells by cosine; minus-ones: the SAME expression
      // ascending, opposite ordering), the shared encode chain
      // restricted to the union of probed cells, each query's ADC
      // table applied only inside its own probe set, per-query top-5
      "q160_ann_batch_probe" ->
        """WITH cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |probed1 AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
          |           cent_id
          |  LIMIT 4),
          |probed2 AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) ASC,
          |           cent_id
          |  LIMIT 4),
          |selu AS (
          |  SELECT a.vec_id, a.embedding, a.cent_id FROM assigned a
          |  WHERE a.cent_id IN (SELECT cent_id FROM probed1
          |                      UNION SELECT cent_id FROM probed2)),
          |cb AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
          |  FROM (SELECT vec_id, embedding FROM embeddings
          |        ORDER BY vec_id LIMIT 16)),
          |sub AS (
          |  SELECT e.vec_id, m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE) *
          |           (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE))) AS d
          |  FROM selu e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
          |code AS (
          |  SELECT vec_id, m, j FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
          |lut1 AS (
          |  SELECT m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (1.0 - cb.c[m.m*8+i]::DOUBLE) * (1.0 - cb.c[m.m*8+i]::DOUBLE))) AS ld
          |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
          |lut2 AS (
          |  SELECT m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (-1.0 - cb.c[m.m*8+i]::DOUBLE) * (-1.0 - cb.c[m.m*8+i]::DOUBLE))) AS ld
          |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
          |adc1 AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN lut1 l ON l.m = c.m AND l.j = c.j
          |  JOIN selu s ON s.vec_id = c.vec_id
          |  WHERE s.cent_id IN (SELECT cent_id FROM probed1)
          |  GROUP BY c.vec_id),
          |adc2 AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN lut2 l ON l.m = c.m AND l.j = c.j
          |  JOIN selu s ON s.vec_id = c.vec_id
          |  WHERE s.cent_id IN (SELECT cent_id FROM probed2)
          |  GROUP BY c.vec_id),
          |u AS (
          |  SELECT CAST(1 AS BIGINT) AS query_id, vec_id, round(dist, 6) AS adc
          |  FROM adc1
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), vec_id, round(dist, 6) FROM adc2),
          |r AS (
          |  SELECT query_id, vec_id, adc FROM u
          |  QUALIFY row_number() OVER (PARTITION BY query_id
          |                             ORDER BY adc, vec_id) <= 5)
          |SELECT query_id, vec_id, adc FROM r
          |ORDER BY query_id, adc, vec_id""".stripMargin,
      // q161: q148's residual-at-rest chain (corpus-trained codebooks,
      // the streamed %5==0 increments encoded with them, never
      // retrained) fused with q160's two-query masking — probe sets
      // from opposite cosine orderings, per-probed-cell RESIDUAL LUTs
      // per query (q residual = ±1 - cvec), per-query top-5: the
      // kind-aware streamed encode, the increment merge, the
      // union-cell pruning and both residual rankings land in one hash
      "q161_ann_residual_batch_incr" ->
        """WITH cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |probed1 AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
          |           cent_id
          |  LIMIT 4),
          |probed2 AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) ASC,
          |           cent_id
          |  LIMIT 4),
          |rcb AS (
          |  SELECT row_number() OVER (ORDER BY a.vec_id) - 1 AS j,
          |    list_transform(generate_series(1, 64),
          |      i -> a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) AS r
          |  FROM (SELECT vec_id, embedding, cent_id FROM assigned
          |        WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16) a
          |  JOIN cmeta c USING (cent_id)),
          |selu AS (
          |  SELECT a.vec_id, a.embedding, a.cent_id, c.cvec
          |  FROM assigned a JOIN cmeta c USING (cent_id)
          |  WHERE a.cent_id IN (SELECT cent_id FROM probed1
          |                      UNION SELECT cent_id FROM probed2)),
          |sub AS (
          |  SELECT s.vec_id, m.m, rb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> ((s.embedding[m.m*8+i]::DOUBLE - s.cvec[m.m*8+i]::DOUBLE) -
          |              rb.r[m.m*8+i]) *
          |           ((s.embedding[m.m*8+i]::DOUBLE - s.cvec[m.m*8+i]::DOUBLE) -
          |              rb.r[m.m*8+i]))) AS d
          |  FROM selu s CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
          |code AS (
          |  SELECT vec_id, m, j FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
          |lut1 AS (
          |  SELECT p.cent_id AS cell, m.m, rb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> ((1.0 - c.cvec[m.m*8+i]::DOUBLE) - rb.r[m.m*8+i]) *
          |           ((1.0 - c.cvec[m.m*8+i]::DOUBLE) - rb.r[m.m*8+i]))) AS ld
          |  FROM probed1 p JOIN cmeta c USING (cent_id)
          |  CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
          |lut2 AS (
          |  SELECT p.cent_id AS cell, m.m, rb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> ((-1.0 - c.cvec[m.m*8+i]::DOUBLE) - rb.r[m.m*8+i]) *
          |           ((-1.0 - c.cvec[m.m*8+i]::DOUBLE) - rb.r[m.m*8+i]))) AS ld
          |  FROM probed2 p JOIN cmeta c USING (cent_id)
          |  CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN rcb rb),
          |adc1 AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN selu s USING (vec_id)
          |  JOIN lut1 l ON l.cell = s.cent_id AND l.m = c.m AND l.j = c.j
          |  GROUP BY c.vec_id),
          |adc2 AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN selu s USING (vec_id)
          |  JOIN lut2 l ON l.cell = s.cent_id AND l.m = c.m AND l.j = c.j
          |  GROUP BY c.vec_id),
          |u AS (
          |  SELECT CAST(1 AS BIGINT) AS query_id, vec_id, round(dist, 6) AS adc
          |  FROM adc1
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), vec_id, round(dist, 6) FROM adc2),
          |r AS (
          |  SELECT query_id, vec_id, adc FROM u
          |  QUALIFY row_number() OVER (PARTITION BY query_id
          |                             ORDER BY adc, vec_id) <= 5)
          |SELECT query_id, vec_id, adc FROM r
          |ORDER BY query_id, adc, vec_id""".stripMargin,
      // q162: recall@10 at two nprobe settings — the exact side is
      // q14's proven cosine ranking, the approximate side is q132's
      // encode/ADC chain computed once over ALL vectors with the cell
      // probe restated as a rank over centroid cosine (rn <= nprobe);
      // recall = |exact ∩ approx| / 10, both intersections in one hash
      "q162_ann_recall" ->
        """WITH cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |cranked AS (
          |  SELECT cent_id, row_number() OVER (
          |    ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
          |             cent_id) AS rn
          |  FROM cmeta),
          |cb AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
          |  FROM (SELECT vec_id, embedding FROM embeddings
          |        ORDER BY vec_id LIMIT 16)),
          |sub AS (
          |  SELECT e.vec_id, m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE) *
          |           (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE))) AS d
          |  FROM embeddings e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
          |code AS (
          |  SELECT vec_id, m, j FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
          |lut AS (
          |  SELECT m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (1.0 - cb.c[m.m*8+i]::DOUBLE) * (1.0 - cb.c[m.m*8+i]::DOUBLE))) AS ld
          |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
          |adc AS (
          |  SELECT c.vec_id, round(list_sum(list(l.ld ORDER BY l.m)), 6) AS dist
          |  FROM code c JOIN lut l ON l.m = c.m AND l.j = c.j
          |  GROUP BY c.vec_id),
          |withcell AS (
          |  SELECT a.vec_id, d.dist, cr.rn
          |  FROM assigned a JOIN adc d ON d.vec_id = a.vec_id
          |  JOIN cranked cr USING (cent_id)),
          |approx4 AS (SELECT vec_id FROM withcell WHERE rn <= 4
          |            ORDER BY dist, vec_id LIMIT 10),
          |approx16 AS (SELECT vec_id FROM withcell WHERE rn <= 16
          |             ORDER BY dist, vec_id LIMIT 10),
          |exact AS (
          |  SELECT vec_id FROM (
          |    SELECT vec_id,
          |      round(list_sum([x::DOUBLE for x in embedding]) /
          |            (sqrt(64.0) * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding]))), 6)
          |        AS cos
          |    FROM embeddings)
          |  ORDER BY cos DESC, vec_id LIMIT 10)
          |SELECT * FROM (
          |  SELECT CAST(4 AS BIGINT) AS nprobe,
          |    round((SELECT COUNT(*) FROM exact JOIN approx4 USING (vec_id)) / 10.0, 6)
          |      AS recall
          |  UNION ALL
          |  SELECT CAST(16 AS BIGINT),
          |    round((SELECT COUNT(*) FROM exact JOIN approx16 USING (vec_id)) / 10.0, 6))
          |ORDER BY nprobe""".stripMargin,
      // q164: the refine pattern — the q132 ADC chain ordered by
      // ROUNDED distance (ties by id) cut at the 40-candidate
      // shortlist, then q14's exact cosine over exactly those ids for
      // the final 10: shortlist cutoff, tie-order and re-rank metric
      // all land in one hash
      "q164_ann_refine" ->
        """WITH cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |probed AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
          |           cent_id
          |  LIMIT 4),
          |sel AS (
          |  SELECT a.vec_id, a.embedding FROM assigned a
          |  JOIN probed p USING (cent_id)),
          |cb AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
          |  FROM (SELECT vec_id, embedding FROM embeddings
          |        ORDER BY vec_id LIMIT 16)),
          |sub AS (
          |  SELECT e.vec_id, m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE) *
          |           (e.embedding[m.m*8+i]::DOUBLE - cb.c[m.m*8+i]::DOUBLE))) AS d
          |  FROM sel e CROSS JOIN generate_series(0, 7) m(m) CROSS JOIN cb),
          |code AS (
          |  SELECT vec_id, m, j FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
          |lut AS (
          |  SELECT m.m, cb.j,
          |    list_sum(list_transform(generate_series(1, 8),
          |      i -> (1.0 - cb.c[m.m*8+i]::DOUBLE) * (1.0 - cb.c[m.m*8+i]::DOUBLE))) AS ld
          |  FROM cb CROSS JOIN generate_series(0, 7) m(m)),
          |adc AS (
          |  SELECT c.vec_id, list_sum(list(l.ld ORDER BY l.m)) AS dist
          |  FROM code c JOIN lut l ON l.m = c.m AND l.j = c.j
          |  GROUP BY c.vec_id),
          |short AS (
          |  SELECT vec_id FROM adc
          |  ORDER BY round(dist, 6), vec_id LIMIT 40)
          |SELECT e.vec_id,
          |  round(list_sum([x::DOUBLE for x in e.embedding]) /
          |        (sqrt(64.0) * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding]))), 6)
          |    AS cos
          |FROM embeddings e JOIN short USING (vec_id)
          |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
      // q159: the composed monitoring loop — four per-batch drift
      // errors from q151's proven min-over-entries arithmetic under
      // the CORPUS codebooks, median-of-first-2 vs median-of-last-2
      // (mean of two — both engines' even-count median), then the
      // 2.0-threshold decision CASE on the unrounded medians
      "q159_drift_monitor" -> {
        def berr(vecs: String): String =
          s"""(SELECT avg(e) FROM (
             |   SELECT vec_id, list_sum(list(dm ORDER BY m)) AS e FROM (
             |     SELECT v.vec_id, m.m,
             |       min(list_sum(list_transform(generate_series(1, 8),
             |         i -> (v.emb[m.m*8+i] - w.c[m.m*8+i]) *
             |              (v.emb[m.m*8+i] - w.c[m.m*8+i])))) AS dm
             |     FROM $vecs v CROSS JOIN generate_series(0, 7) m(m)
             |     CROSS JOIN corpus_cb w
             |     GROUP BY v.vec_id, m.m)
             |   GROUP BY vec_id))""".stripMargin
        s"""WITH corpus_cb AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
           |         list_transform(embedding, x -> x::DOUBLE) AS c
           |  FROM (SELECT vec_id, embedding FROM embeddings
           |        WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 16)),
           |b0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           |       FROM embeddings WHERE vec_id % 10 = 0),
           |b1 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           |       FROM embeddings WHERE vec_id % 10 = 5),
           |b2 AS (SELECT vec_id + 10000 AS vec_id,
           |         list_transform(embedding, x -> x::DOUBLE + 4.0) AS emb
           |       FROM embeddings WHERE vec_id % 10 = 0),
           |b3 AS (SELECT vec_id + 20000 AS vec_id,
           |         list_transform(embedding, x -> x::DOUBLE + 4.0) AS emb
           |       FROM embeddings WHERE vec_id % 10 = 5),
           |errs AS (SELECT ${berr("b0")} AS e0, ${berr("b1")} AS e1,
           |                ${berr("b2")} AS e2, ${berr("b3")} AS e3)
           |SELECT CASE WHEN (e2 + e3) / 2.0 > 2.0 * ((e0 + e1) / 2.0)
           |            THEN 'rebuild' ELSE 'keep' END AS action,
           |  round((e0 + e1) / 2.0, 6) AS baseline_err,
           |  round((e2 + e3) / 2.0, 6) AS trailing_err,
           |  CAST(4 AS BIGINT) AS batches
           |FROM errs""".stripMargin
      },
      // q154: the streamed history discipline restated — for each
      // batch doc, dup_of = min older-HISTORY id at exact Jaccard
      // >= 0.8 (q18's proven shingle arithmetic): history of the
      // first micro-batch (% 3 = 1) is the indexed corpus (% 3 = 0)
      // alone; history of the second (% 3 = 2) is corpus + first
      // batch, because the stream appended A's signatures before B
      // arrived — batch ordering, the append and the min-id election
      // all load-bearing
      "q154_streaming_neardup" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
           |s AS (SELECT doc_id,
           |        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                       for i in range(1, len(t) - 1)]) AS sh
           |      FROM w),
           |cand AS (
           |  SELECT b.doc_id, a.doc_id AS old_id,
           |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |          CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)
           |      AS jaccard
           |  FROM s b JOIN s a
           |    ON ((b.doc_id % 3 = 1 AND a.doc_id % 3 = 0)
           |     OR (b.doc_id % 3 = 2 AND a.doc_id % 3 <> 2)))
           |SELECT doc_id, min(old_id) AS dup_of
           |FROM cand WHERE jaccard >= 0.8
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // q136: the classification restated from the synthesis
      // arithmetic over a full-outer id join — removed = %10==3,
      // changed = %10==7, added = the +1000000 twins of %10==4
      "q136_snapshot_diff" ->
        """WITH old AS (SELECT doc_id, text FROM documents),
          |cur AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 10 = 7 THEN text || ' v2' ELSE text END AS text
          |  FROM documents WHERE doc_id % 10 <> 3
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 4),
          |j AS (
          |  SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
          |    CASE WHEN o.doc_id IS NULL THEN 'added'
          |         WHEN c.doc_id IS NULL THEN 'removed'
          |         WHEN md5(o.text) <> md5(c.text) THEN 'changed'
          |         ELSE 'unchanged' END AS change
          |  FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id)
          |SELECT change, COUNT(*) AS n, MIN(doc_id) AS min_id
          |FROM j GROUP BY change ORDER BY change""".stripMargin,
      // q137: the four selection stages chained — q19's rounded score
      // gate, q17's winners within the gated set, the text-hash split
      // bucket, q130's totals-split admission with seed 19 / budget
      // 1050 — every stage's arithmetic already proven alone
      "q137_corpus_select" -> {
        val stops = graft.functions.TextStats.Stopwords
          .map(s2 => s"'$s2'").mkString("[", ", ", "]")
        s"""WITH q AS (SELECT doc_id, source, text,
           |    CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS BIGINT)
           |      AS n_tokens,
           |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
           |      AS DOUBLE) / CAST(length(text) AS DOUBLE) AS praw,
           |    $toks AS t
           |  FROM documents),
           |r AS (SELECT doc_id, source, text, n_tokens,
           |    round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
           |      + (1.0 - least(praw * 4.0, 1.0)) * 0.3
           |      + least(CASE WHEN len(t) = 0 THEN 0.0
           |              ELSE CAST(len(list_filter(t, x -> list_contains($stops, x)))
           |                   AS DOUBLE) / CAST(len(t) AS DOUBLE) END * 5.0, 1.0) * 0.3,
           |      6) AS quality
           |  FROM q),
           |k AS (SELECT * FROM r WHERE quality >= 0.5),
           |w AS (SELECT * FROM k
           |      WHERE doc_id IN (SELECT MIN(doc_id) FROM k GROUP BY md5(text))),
           |tr AS (SELECT * FROM w WHERE ${md5h("'13:' || md5(text)")} % 100 < 80),
           |p AS (SELECT doc_id, source, n_tokens,
           |        ${md5h("'19:' || CAST(doc_id AS VARCHAR)")} AS pr FROM tr),
           |tt AS (SELECT source, SUM(n_tokens) AS tot FROM p GROUP BY source),
           |c AS (SELECT p.doc_id, p.source, p.n_tokens, tt.tot,
           |    SUM(p.n_tokens) OVER (PARTITION BY p.source ORDER BY p.pr, p.doc_id
           |                          ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM p JOIN tt USING (source))
           |SELECT doc_id, source, n_tokens FROM c
           |WHERE tot <= 1050 OR cum <= 1050
           |ORDER BY doc_id""".stripMargin
      },
      // q114: directive order is file order — the per-doc Sitemap line
      // at ord 0, the even-id lowercase-key second line at ord 1; the
      // comment line and the empty-value Sitemap contribute nothing
      "q114_robots_sitemaps" ->
        """WITH x AS (
          |  SELECT doc_id, CAST(0 AS BIGINT) AS ord,
          |         'http://s' || (doc_id % 7) || '.example.com/sm' ||
          |         (doc_id % 3) || '.xml' AS sitemap
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id, CAST(1 AS BIGINT),
          |         'http://s' || (doc_id % 7) || '.example.com/extra.xml'
          |  FROM documents WHERE doc_id % 2 = 0)
          |SELECT doc_id, ord, sitemap FROM x ORDER BY doc_id, ord""".stripMargin,
      // q115: every field restated from the synthesis spec — the title
      // entity-decodes (&amp; &mdash;) and whitespace-collapses, the
      // decoys in the comment and the script literal must be skipped,
      // the canonical &amp; decodes, noindex only on ids % 5 = 0
      "q115_html_meta" ->
        """SELECT doc_id,
          |  'Doc & ' || doc_id || ' — s' || (doc_id % 7) AS title,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN 'Desc ' || (doc_id % 4) || ' é' END AS description,
          |  CASE WHEN doc_id % 3 = 0
          |       THEN 'http://s' || (doc_id % 7) ||
          |            '.example.com/c?a=1&b=2' END AS canonical,
          |  doc_id % 5 = 0 AS noindex
          |FROM documents ORDER BY doc_id""".stripMargin,
      // q116: rows restated from the synthesis spec — the script decoy
      // and the no-href anchor contribute nothing, the entity/nested-
      // markup anchor collapses to clean text, nofollow fires only on
      // the even ids' token list, the image-only anchor's text is null
      "q116_anchor_text" ->
        """WITH x AS (
          |  SELECT doc_id, CAST(0 AS BIGINT) AS ord, '/p?x=&y' AS href,
          |         'Link & text ' || (doc_id % 5) AS atext,
          |         FALSE AS nofollow
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id, CAST(1 AS BIGINT), '/plain',
          |         'plain ' || (doc_id % 3), doc_id % 2 = 0
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id, CAST(2 AS BIGINT), '/empty',
          |         CAST(NULL AS VARCHAR), FALSE
          |  FROM documents)
          |SELECT doc_id, ord, href, atext, nofollow
          |FROM x ORDER BY doc_id, ord""".stripMargin,
      // q117: the follow edges restated from the spec (the nofollow
      // anchor and the even-id conditional must NOT contribute) + the
      // q108-shared fixed-3-iteration recurrence
      "q117_nofollow_rank" ->
        s"""WITH docs AS (
           |  SELECT doc_id, 's' || (doc_id % 10) || '.com' AS src
           |  FROM documents),
           |links AS (
           |  SELECT src, 't' || ((doc_id * 3 + 1) % 10) || '.com' AS dst
           |  FROM docs
           |  UNION ALL
           |  SELECT src, 't' || ((doc_id + 1) % 10) || '.com'
           |  FROM docs WHERE doc_id % 2 = 1),
           |edges AS (
           |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
           |  FROM links GROUP BY 1, 2),
           |${pageRankRecurrenceSql(LinkGraphIters, LinkGraphDamping)}
           |SELECT node, round(pr, 6) AS pr FROM r$LinkGraphIters
           |ORDER BY node""".stripMargin,
      // q118: counts restated from the synthesis spec; fractions are
      // divisions of the same integers, exact on both engines (the
      // digits/punct/whitespace must not reach the letter count)
      "q118_script_mix" ->
        """WITH c AS (
          |  SELECT doc_id,
          |    CAST(2 + doc_id % 3 AS DOUBLE) AS lat,
          |    CAST(1 + doc_id % 2 AS DOUBLE) AS cyr,
          |    CAST(doc_id % 2 AS DOUBLE) AS han,
          |    CAST(4 + doc_id % 3 + 2 * (doc_id % 2) AS DOUBLE) AS tot
          |  FROM documents)
          |SELECT doc_id,
          |  round(lat / tot, 6) AS latin,
          |  round(cyr / tot, 6) AS cyrillic,
          |  round(han / tot, 6) AS cjk,
          |  round(CAST(1 AS DOUBLE) / tot, 6) AS greek,
          |  CAST(0 AS DOUBLE) AS arabic,
          |  CAST(0 AS DOUBLE) AS other,
          |  CAST(tot AS BIGINT) AS n_letters
          |FROM c ORDER BY doc_id""".stripMargin,
      // q119: the two graftbot groups combine with the largest delay
      // winning; the otherbot probe sees the * group only on even ids
      // (null = no delay anywhere); integer-valued doubles are exact
      "q119_crawl_delay" ->
        """SELECT doc_id,
          |  CAST(GREATEST(doc_id % 5 + 1, doc_id % 3) AS DOUBLE) AS d_graft,
          |  CASE WHEN doc_id % 2 = 0 THEN CAST(10 AS DOUBLE) END AS d_star
          |FROM documents ORDER BY doc_id""".stripMargin,
      // q120: q101's spec digests under hand-derived SURT keys
      // (http://t/X -> t)/X: single-label host, scheme dropped, path
      // already lowercase) — walk + HTTP decode + canonicalization
      // all load-bearing in one VALUES literal
      "q120_warc_cdx" ->
        """SELECT * FROM (VALUES
          |  ('t)/badstatus', CAST(NULL AS BIGINT), CAST(9 AS BIGINT),
          |   'c4a804aab7d55989f3eaaf1e09f1e524a24ec47c352a5caa3ba63c46e1d17aed'),
          |  ('t)/brotli', CAST(200 AS BIGINT), CAST(19 AS BIGINT),
          |   '328eae1ba9403bf4226450ba9bf2ec39ac03934879e10f0549e30dca00d970d0'),
          |  ('t)/chunked', CAST(200 AS BIGINT), CAST(33 AS BIGINT),
          |   'ffae2152cdbac81cfb16a497598f561a84edb3acd4b22531ca75fc46de368f7e'),
          |  ('t)/deflate', CAST(200 AS BIGINT), CAST(42 AS BIGINT),
          |   '586d7a508d5d281e7afbdad827c294c96f9803715a413a08e2018070b215b9a2'),
          |  ('t)/gzip', CAST(200 AS BIGINT), CAST(87 AS BIGINT),
          |   'f33351fcef8898a404a4eaa0598fcb8e6df3750e607ba4c3e3df4ff5213d135d'),
          |  ('t)/gzip-chunked', CAST(200 AS BIGINT), CAST(76 AS BIGINT),
          |   'cfb522aae2e305d686722d495d6464a9d5d4b7383bbe40e57a196d96b30e73d6'),
          |  ('t)/plain', CAST(200 AS BIGINT), CAST(19 AS BIGINT),
          |   'e1e54bf71542cb04326c1be75988ebcadcd3a8c6cbba44209d68b3ef03399673'),
          |  ('t)/req', CAST(NULL AS BIGINT), CAST(28 AS BIGINT),
          |   '7dee6ae752438d978cdb1bbc796fff60f5be3ce1faa90553949639eb86e0c18f'),
          |  ('t)/trunc', CAST(204 AS BIGINT), CAST(0 AS BIGINT),
          |   'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855'),
          |  ('t)/zstd', CAST(200 AS BIGINT), CAST(90 AS BIGINT),
          |   'c781b6607968bca0e7baa6d86081fb2da7e66c823e5a49199265c12588e529d2'))
          |  AS t(cdx_key, status, n_bytes, payload_sha256)
          |ORDER BY cdx_key""".stripMargin,
      // q121: delay is host-determined so r × delay is closed-form;
      // integer-valued doubles are exact on both engines
      "q121_fetch_schedule" ->
        """WITH u AS (
          |  SELECT 's' || (doc_id % 10) || '.com' AS host,
          |         CAST(doc_id % 10 + 1 AS DOUBLE) AS delay,
          |         'http://s' || (doc_id % 10) || '.com/u' || doc_id ||
          |         '/' || t.i AS loc
          |  FROM documents, range(2) t(i)),
          |r AS (
          |  SELECT host, loc, delay,
          |         row_number() OVER (PARTITION BY host ORDER BY loc) - 1 AS r
          |  FROM u)
          |SELECT host, loc, CAST(r * delay AS DOUBLE) AS fetch_at
          |FROM r ORDER BY host, loc""".stripMargin,
      // q122: the WARC->WET text pipeline under one oracle — status,
      // block counts and md5/length of NFC(spec paragraph text),
      // computed by an INDEPENDENT implementation (Python codecs +
      // unicodedata) over the shared WetCases table; every page has
      // 5 non-empty blocks and exactly the paragraph classifies as
      // content (c09 fails the 60-char gate: empty WET, md5(''))
      "q122_warc_wet" -> warcWetOracle,
      // q123: mean/std recomputed from the SAME spec arithmetic over
      // range(w) x range(h) — integer sums are exact, the final
      // division/sqrt is the identical IEEE op on both sides (q110's
      // analytic-exactness rule); metadata restated from the spec
      "q123_image_decode" ->
        """WITH bpx AS (
          |  SELECT doc_id,
          |         CAST((doc_id + 3*x.i + 5*y.i) % 256 AS BIGINT) AS r,
          |         CAST((2*doc_id + 7*x.i + y.i) % 256 AS BIGINT) AS g,
          |         CAST((3*doc_id + x.i + 11*y.i) % 256 AS BIGINT) AS b
          |  FROM documents, range(16) x(i), range(8) y(i)
          |  WHERE y.i < 4 + (doc_id % 3) * 2),
          |bstat AS (
          |  SELECT doc_id, count(*) AS n,
          |         sum(r) AS sr, sum(r*r) AS srr,
          |         sum(g) AS sg, sum(g*g) AS sgg,
          |         sum(b) AS sb, sum(b*b) AS sbb
          |  FROM bpx GROUP BY doc_id),
          |gpx AS (
          |  SELECT doc_id,
          |         CAST((13*doc_id + 3*x.i + 7*y.i) % 256 AS BIGINT) AS v
          |  FROM documents, range(12) x(i), range(8) y(i)
          |  WHERE y.i < 5 + (doc_id % 4)),
          |gstat AS (
          |  SELECT doc_id, count(*) AS n, sum(v) AS sv, sum(v*v) AS svv
          |  FROM gpx GROUP BY doc_id)
          |SELECT b.doc_id,
          |  'bmp' AS bmp_format,
          |  CAST(16 AS BIGINT) AS bmp_w,
          |  CAST(4 + (b.doc_id % 3) * 2 AS BIGINT) AS bmp_h,
          |  CAST(3 AS BIGINT) AS bmp_ch,
          |  round(sr / CAST(b.n AS DOUBLE), 6) AS bmp_mean_r,
          |  round(sg / CAST(b.n AS DOUBLE), 6) AS bmp_mean_g,
          |  round(sb / CAST(b.n AS DOUBLE), 6) AS bmp_mean_b,
          |  round(sqrt(greatest(srr / CAST(b.n AS DOUBLE)
          |    - (sr / CAST(b.n AS DOUBLE)) * (sr / CAST(b.n AS DOUBLE)), 0)), 6)
          |    AS bmp_std_r,
          |  round(sqrt(greatest(sgg / CAST(b.n AS DOUBLE)
          |    - (sg / CAST(b.n AS DOUBLE)) * (sg / CAST(b.n AS DOUBLE)), 0)), 6)
          |    AS bmp_std_g,
          |  round(sqrt(greatest(sbb / CAST(b.n AS DOUBLE)
          |    - (sb / CAST(b.n AS DOUBLE)) * (sb / CAST(b.n AS DOUBLE)), 0)), 6)
          |    AS bmp_std_b,
          |  'gif' AS gif_format,
          |  CAST(12 AS BIGINT) AS gif_w,
          |  CAST(5 + (b.doc_id % 4) AS BIGINT) AS gif_h,
          |  round(sv / CAST(g.n AS DOUBLE), 6) AS gif_mean,
          |  round(sqrt(greatest(svv / CAST(g.n AS DOUBLE)
          |    - (sv / CAST(g.n AS DOUBLE)) * (sv / CAST(g.n AS DOUBLE)), 0)), 6)
          |    AS gif_std
          |FROM bstat b JOIN gstat g USING (doc_id)
          |ORDER BY doc_id""".stripMargin,
      // ar source: spec-member sizes/digests (gzip member decompressed,
      // nested tar expanded), computed independently — q16's rule
      "q87_ar_source" ->
        """SELECT * FROM (VALUES
          |  ('data.bin.gz', CAST(33 AS BIGINT),
          |   'fecb96dd0fe45acee8a8f44f64e60953138573711cc16ef91fc0b6307579dff4'),
          |  ('inner.tar/docs/a.txt', CAST(10 AS BIGINT),
          |   '753a892fa27fce3ea4683c2a27e1f8b651c9e1352d4b0b14382c812019bc6a2a'),
          |  ('inner.tar/docs/b.txt', CAST(10 AS BIGINT),
          |   '73ecc37823096f6ac0b9cddb338a1bfe9b659e74061635e436c69d882dc144ce'),
          |  ('readme.txt', CAST(17 AS BIGINT),
          |   '9e119fbb07d022af2ab53207a88e17695e9e863e4ff4a464f0eb37fd2f0512f5'),
          |  ('training-shards/shard-000001.txt', CAST(18 AS BIGINT),
          |   '445e3b9daabe086ed18195aebdfa29ebbf819775923cbb6c8dcbb8e0212545e3'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin,
      // Bloom gate: a bitmap bit p is set iff SOME corpus position
      // hashes to p, so "all k probe bits set" == "no probe position
      // missing from the corpus position set" — the oracle states the
      // latter (anti-join on md5-derived positions), exactly the
      // engine's bitmap semantics including the declared FP set
      "q88_bloom_gate" -> {
        val m = 1 << 20
        def p(i: Int, rel: String) =
          s"CAST(md5_number_lower('$i:' || $rel.text) % 4611686018427387904 AS BIGINT) % $m"
        s"""WITH corpus AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
           |inc AS (
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
           |cpos AS (SELECT DISTINCT unnest([${(0 until 4).map(p(_, "corpus")).mkString(", ")}]) AS p
           |         FROM corpus),
           |ipos AS (SELECT doc_id, unnest([${(0 until 4).map(p(_, "inc")).mkString(", ")}]) AS p
           |         FROM inc)
           |SELECT DISTINCT ipos.doc_id FROM ipos LEFT JOIN cpos ON ipos.p = cpos.p
           |WHERE cpos.p IS NULL
           |ORDER BY ipos.doc_id""".stripMargin
      },
      // q163: q88's position anti-join over the BATCHED history —
      // batch 0 judged against the corpus positions alone, batch 1
      // against corpus ∪ ALL batch-0 texts' positions (the per-batch
      // bitmap increments): the re-keyed batch-0 copies in batch 1
      // dropping is exactly the history update being load-bearing
      "q163_streaming_bloom_gate" -> {
        val m = 1 << 20
        def p(i: Int, rel: String) =
          s"CAST(md5_number_lower('$i:' || $rel.text) % 4611686018427387904 AS BIGINT) % $m"
        s"""WITH corpus AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
           |b0 AS (
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
           |b1 AS (
           |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 4 = 1
           |  UNION ALL
           |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
           |cpos AS (SELECT DISTINCT unnest([${(0 until 4).map(p(_, "corpus")).mkString(", ")}]) AS p
           |         FROM corpus),
           |b0pos AS (SELECT doc_id, unnest([${(0 until 4).map(p(_, "b0")).mkString(", ")}]) AS p
           |          FROM b0),
           |adm0 AS (SELECT DISTINCT b0pos.doc_id FROM b0pos
           |         LEFT JOIN cpos ON b0pos.p = cpos.p WHERE cpos.p IS NULL),
           |h1 AS (SELECT p FROM cpos
           |       UNION
           |       SELECT DISTINCT unnest([${(0 until 4).map(p(_, "b0")).mkString(", ")}])
           |       FROM b0),
           |b1pos AS (SELECT doc_id, unnest([${(0 until 4).map(p(_, "b1")).mkString(", ")}]) AS p
           |          FROM b1),
           |adm1 AS (SELECT DISTINCT b1pos.doc_id FROM b1pos
           |         LEFT JOIN h1 ON b1pos.p = h1.p WHERE h1.p IS NULL)
           |SELECT CAST(0 AS BIGINT) AS ingest_batch, doc_id FROM adm0
           |UNION ALL
           |SELECT CAST(1 AS BIGINT), doc_id FROM adm1
           |ORDER BY ingest_batch, doc_id""".stripMargin
      },
      // cpio source: spec-member sizes/digests (directory record
      // skipped, gzip member decompressed, nested tar expanded),
      // computed independently — q16's rule
      "q89_cpio_source" ->
        """SELECT * FROM (VALUES
          |  ('etc/motd.txt', CAST(17 AS BIGINT),
          |   'ea6c3233b65b3d2f9d9d134908d5f783d5d371e7828517e5cffde90a51a9024a'),
          |  ('inner.tar/docs/a.txt', CAST(10 AS BIGINT),
          |   '753a892fa27fce3ea4683c2a27e1f8b651c9e1352d4b0b14382c812019bc6a2a'),
          |  ('inner.tar/docs/b.txt', CAST(10 AS BIGINT),
          |   '73ecc37823096f6ac0b9cddb338a1bfe9b659e74061635e436c69d882dc144ce'),
          |  ('usr/share/data.bin.gz', CAST(35 AS BIGINT),
          |   '64397d7ab7259e4d29f8e2647c2a5ba6d375ebb3cbdb90febdc158005a20a3e6'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin,
      // rpm source: the framing (lead + two index headers) must be
      // consumed transparently, so the walked members are EXACTLY the
      // q89 cpio fixture's — same independently-derived VALUES
      "q90_rpm_source" ->
        """SELECT * FROM (VALUES
          |  ('etc/motd.txt', CAST(17 AS BIGINT),
          |   'ea6c3233b65b3d2f9d9d134908d5f783d5d371e7828517e5cffde90a51a9024a'),
          |  ('inner.tar/docs/a.txt', CAST(10 AS BIGINT),
          |   '753a892fa27fce3ea4683c2a27e1f8b651c9e1352d4b0b14382c812019bc6a2a'),
          |  ('inner.tar/docs/b.txt', CAST(10 AS BIGINT),
          |   '73ecc37823096f6ac0b9cddb338a1bfe9b659e74061635e436c69d882dc144ce'),
          |  ('usr/share/data.bin.gz', CAST(35 AS BIGINT),
          |   '64397d7ab7259e4d29f8e2647c2a5ba6d375ebb3cbdb90febdc158005a20a3e6'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin,
      // 7z source: spec-member sizes/digests (directory entry skipped,
      // gzip member decompressed, nested tar expanded) computed
      // independently of the engine — q16's rule
      "q91_sevenz_source" ->
        """SELECT * FROM (VALUES
          |  ('data.bin.gz', CAST(33 AS BIGINT),
          |   '784c5de712e270a4187f3cba5b16e445a748b4222b23f4c956d931761fce8c63'),
          |  ('inner.tar/docs/a.txt', CAST(10 AS BIGINT),
          |   '753a892fa27fce3ea4683c2a27e1f8b651c9e1352d4b0b14382c812019bc6a2a'),
          |  ('inner.tar/docs/b.txt', CAST(10 AS BIGINT),
          |   '73ecc37823096f6ac0b9cddb338a1bfe9b659e74061635e436c69d882dc144ce'),
          |  ('notes/readme.txt', CAST(17 AS BIGINT),
          |   '0538a722a4a87b685be24dc429d5f9b4ff171e2c2c75390e77a26a59cf372757'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin,
      // codec matrix: all seven members decode to the identical
      // 21-byte payload — size/sha256 computed independently (q16's
      // rule); only the member paths differ
      "q92_codec_matrix" -> {
        val d = "18ecefc60581a79ed08523df6b91d3d4205bc48c07aed4f6196f7802db13575e"
        val exts = Seq("bz2", "gz", "lz4", "sz", "txt", "xz", "zst")
        val rows = exts.map(e => s"  ('payload.$e', CAST(21 AS BIGINT), '$d')")
          .mkString(",\n")
        s"""SELECT * FROM (VALUES
           |$rows)
           |  AS t(path, size, sha256)
           |ORDER BY path""".stripMargin
      },
      // unicode normalization: the SQL interpolates the SAME Scala
      // prefix vals the engine query uses, so the bytes reaching
      // DuckDB's utf8proc and the engine's java.text.Normalizer are
      // identical; md5 of the normalized strings makes any codepoint
      // divergence a hash mismatch
      "q93_normalize" ->
        s"""SELECT doc_id,
           |  md5(nfc_normalize('$NfcPrefix' || text)) AS nfc_md5,
           |  md5(strip_accents('$StripPrefix' || text)) AS strip_md5
           |FROM documents ORDER BY doc_id""".stripMargin,
      // deb source: member sizes/digests computed independently of the
      // engine (q16's rule) — control/data tar members keep dpkg's
      // ./-anchored names under their tarball member's lineage prefix
      "q94_deb_source" ->
        """SELECT * FROM (VALUES
          |  ('control.tar.gz/./control', CAST(129 AS BIGINT),
          |   'ac4466d20fb96c741f49675d80165b4b2a0b4656c78c2ce3fa631d3a9ce0e1bf'),
          |  ('control.tar.gz/./md5sums', CAST(65 AS BIGINT),
          |   '7a6cdeef27efc6908375ef84b73d73c42e59a59979c638e0f6525f59da4de3fd'),
          |  ('data.tar.xz/./etc/graft.conf', CAST(15 AS BIGINT),
          |   '04e990da6aad57cdd8da0fe4d2863da0d24a4ac282b1397b407c6d689b66806c'),
          |  ('data.tar.xz/./usr/share/doc/graft/readme.txt', CAST(23 AS BIGINT),
          |   'edc5499fe0f0eec5e6d2b2657e6525da9f4e22ec84b01127037d3c93e1739351'),
          |  ('debian-binary', CAST(4 AS BIGINT),
          |   'd526eb4e878a23ef26ae190031b4efd2d58ed66789ac049ea3dbaf74c9df7402'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin,
      // cdc chunks: offsets/sizes/digests derived from an INDEPENDENT
      // implementation of the published FastCDC spec (gear table =
      // splitmix64 finalizer over seed 0x6772616674636463, maskS =
      // 2^(bits+2)-1, maskL = 2^(bits-2)-1, min/avg/max =
      // 2048/8192/65536) run over the same splitmix64 fixture bytes —
      // any drift in the engine's gear table, mask policy, min-skip or
      // boundary-off-by-one breaks sizes, offsets AND digests at once.
      // Rows 20-28 repeat rows 6-14's digests: the planted 96 KiB
      // duplicate region re-chunks identically after one resync chunk.
      // SHARED with q100_cdc_parts: seam invariance means the part-wise
      // chunker must land on EXACTLY these rows.
      "q95_cdc_chunks" -> CdcChunkOracle,
      // cdc over chunked-walk parts: the same fixture arriving as six
      // 50000-byte content_part rows (every seam lands mid-chunk) must
      // reproduce the independent whole-stream rows above — any carry
      // or confirmation defect in the streaming chunker moves a cut
      // and breaks offsets, sizes AND digests at once
      "q100_cdc_parts" -> CdcChunkOracle,
      // url parse: the SAME deterministic URL synthesis on both sides,
      // then DuckDB re-implements the parse grammar as one regex and
      // the eTLD+1 election as a CASE over the multi-label subset of
      // the fixture's own five suffixes, DERIVED from the vendored PSL
      // at oracle-build time (q83's constant-interpolation rule): the
      // fixture hosts are wwwN.srcM.<suffix>, srcM never collides with
      // a PSL rule, so the full PSL algorithm reduces to exactly this
      // CASE on the fixture domain — any drift in the Psl loader or
      // matcher for these rules breaks the interpolated subset
      "q96_url_parse" -> {
        // non-interpolated vals so the regex's $ anchor and \? survive
        val rx = """^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)(?::([0-9]+))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"""
        val suffixes = Seq("com", "org", "co.uk", "com.au", "github.io")
          .filter(s => graft.functions.Psl.publicSuffixLabels(("x." + s).split('.')) > 1)
          .sorted.map(x => s"'$x'").mkString(",")
        s"""WITH u AS (
           |  SELECT doc_id,
           |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
           |    (CASE WHEN doc_id % 5 = 0 THEN 'user:pw@' ELSE '' END) ||
           |    'WWW' || CAST(doc_id % 7 AS VARCHAR) || '.' || source || '.' ||
           |    (['com','org','co.uk','com.au','github.io'])[CAST(doc_id % 5 AS INT) + 1] ||
           |    (CASE WHEN doc_id % 4 = 0 THEN ':8443' ELSE '' END) ||
           |    '/p/' || CAST(doc_id AS VARCHAR) ||
           |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&id=' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
           |    (CASE WHEN doc_id % 6 = 0 THEN '#s2' ELSE '' END) AS url
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |    lower(regexp_extract(url, '$rx', 1)) AS host,
           |    CAST(NULLIF(regexp_extract(url, '$rx', 2), '') AS BIGINT) AS port,
           |    regexp_extract(url, '$rx', 3) AS path,
           |    NULLIF(regexp_extract(url, '$rx', 4), '') AS qstring,
           |    NULLIF(regexp_extract(url, '$rx', 5), '') AS fragment
           |  FROM u)
           |SELECT doc_id, scheme, host, port, path, qstring, fragment,
           |  CASE WHEN regexp_matches(host, '^[0-9.]+${"$"}') THEN host
           |       WHEN len(string_split(host, '.')) <= 2 THEN host
           |       WHEN array_to_string(string_split(host, '.')[-2:], '.') IN ($suffixes)
           |         THEN array_to_string(string_split(host, '.')[-3:], '.')
           |       ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS reg_domain
           |FROM p ORDER BY doc_id""".stripMargin
      },
      // html extract: the SAME page synthesis on both sides, the SAME
      // restricted pattern set (Java-regex/RE2-identical: lazy
      // quantifiers, (?is) inline flags, [^>] classes, explicit
      // [ \t\n\r] whitespace), the SAME entity order (&amp; last)
      "q97_html_extract" ->
        s"""WITH h AS (
           |  SELECT doc_id, $htmlSyn AS html
           |  FROM documents),
           |x AS (
           |  SELECT doc_id, ${tagStrip("html")} AS t
           |  FROM h)
           |SELECT doc_id,
           |  ${entityWs("t")} AS extracted,
           |  CAST(length(${entityWs("t")}) AS BIGINT) AS n_extracted
           |FROM x ORDER BY doc_id""".stripMargin,
      // clean pipeline: the five cleaning stages re-run in SQL — what
      // is checked is the COMPOSITION (html extract -> nfc -> length
      // gate -> exact-dedup winner election -> deterministic sample),
      // each stage reusing its own query's proven oracle form
      "q98_clean_pipeline" -> {
        // the q152 classifier gate, inserted after the length gate:
        // same vendored bias/weights constants, same rounded threshold
        val (q98buckets, q98bias, q98w) = graft.ops.Quality.hashedLinearModel
        val q98wl = q98w.mkString("[", ", ", "]")
        s"""WITH h AS (
           |  SELECT doc_id, $htmlSyn AS html
           |  FROM documents),
           |x AS (SELECT doc_id, ${tagStrip("html")} AS t FROM h),
           |c AS (SELECT doc_id,
           |        nfc_normalize('$NfcPrefix' || ${entityWs("t")}) AS clean FROM x),
           |f AS (SELECT doc_id, clean FROM c WHERE length(clean) >= 120),
           |tk AS (SELECT doc_id,
           |         list_filter(string_split_regex(
           |             lower(regexp_replace(clean, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
           |           x -> x <> '') AS w
           |       FROM f),
           |gr AS (SELECT doc_id, unnest(w) AS g FROM tk
           |       UNION ALL
           |       SELECT doc_id,
           |              unnest(list_transform(range(1, len(w)),
           |                     i -> w[i] || ' ' || w[i + 1])) AS g
           |       FROM tk),
           |bk AS (SELECT doc_id, CAST(${md5h("g")} % $q98buckets AS BIGINT) AS bk FROM gr),
           |qa AS (SELECT doc_id, count(*) AS n,
           |              sum(wl.l[CAST(bk AS INTEGER) + 1]) AS sw
           |       FROM bk, (SELECT $q98wl AS l) wl GROUP BY doc_id),
           |fq AS (SELECT f.doc_id, f.clean
           |       FROM f LEFT JOIN qa USING (doc_id)
           |       WHERE round(1.0 / (1.0 + exp(-($q98bias +
           |               coalesce(qa.sw / qa.n, 0.0)))), 6) >= 0.5),
           |w AS (SELECT min(doc_id) AS doc_id FROM fq GROUP BY md5(clean))
           |SELECT fq.doc_id, md5(fq.clean) AS clean_md5,
           |  CAST(length(fq.clean) AS BIGINT) AS n_clean
           |FROM fq JOIN w ON fq.doc_id = w.doc_id
           |WHERE ${md5h("'s:' || CAST(fq.doc_id AS VARCHAR)")} % 10 < 3
           |ORDER BY fq.doc_id""".stripMargin
      },
      // q140: q136's mutation CTEs (the current snapshot) feeding
      // q98's five stage CTEs — the incremental refresh must equal
      // running the whole clean pipeline on the current snapshot from
      // scratch (the carried-forward rows are byte-identical by
      // derivation determinism)
      "q140_incr_refresh" ->
        s"""WITH cur AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 10 = 7 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 10 <> 3
           |  UNION ALL
           |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 4),
           |h AS (SELECT doc_id, $htmlSyn AS html FROM cur),
           |x AS (SELECT doc_id, ${tagStrip("html")} AS t FROM h),
           |c AS (SELECT doc_id,
           |        nfc_normalize('$NfcPrefix' || ${entityWs("t")}) AS clean FROM x),
           |f AS (SELECT doc_id, clean FROM c WHERE length(clean) >= 120),
           |w AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(clean))
           |SELECT f.doc_id, md5(f.clean) AS clean_md5,
           |  CAST(length(f.clean) AS BIGINT) AS n_clean
           |FROM f JOIN w ON f.doc_id = w.doc_id
           |WHERE ${md5h("'s:' || CAST(f.doc_id AS VARCHAR)")} % 10 < 3
           |ORDER BY f.doc_id""".stripMargin,
      // url normalize: the oracle builds the EXPECTED canonical string
      // directly from the synthesis parameters (doc_id//2 is the
      // logical key; both raw spellings of a pair must collapse onto
      // it) — the punycode host constant comes from the same
      // java.net.IDN.toASCII call the engine makes (q83's
      // constant-interpolation rule), then the same min-id winner
      // election runs on both sides
      "q99_url_normalize" -> {
        val puny = java.net.IDN.toASCII("münchen.de")
        s"""WITH u AS (SELECT doc_id, doc_id // 2 AS k FROM documents),
           |n AS (
           |  SELECT doc_id,
           |    (CASE WHEN k % 5 = 0 THEN 'https' ELSE 'http' END) || '://' ||
           |    (CASE WHEN k % 3 = 0 THEN 'example.com'
           |          WHEN k % 3 = 1 THEN '$puny'
           |          ELSE 'shop.example.co.uk' END) ||
           |    (CASE WHEN k % 4 = 2 THEN ':8080' ELSE '' END) ||
           |    (CASE WHEN k % 7 = 0 THEN '/'
           |          ELSE '/p/' || CAST(k AS VARCHAR) || '/a~b%2Fq' END) ||
           |    (CASE WHEN k % 2 = 0
           |          THEN '?id=' || CAST(k AS VARCHAR) || '&t=c%20d'
           |          ELSE '' END) AS url_norm
           |  FROM u)
           |SELECT min(doc_id) AS doc_id, url_norm, count(*) AS n_variants
           |FROM n GROUP BY url_norm ORDER BY doc_id""".stripMargin
      },
      // sort-query normalize: the expected canonical string is built
      // directly from the synthesis parameters (both raw spellings of
      // a pair must collapse onto it), then the same min-id winner
      // election runs on both sides — q99's pattern
      "q102_url_sortquery" ->
        """WITH u AS (SELECT doc_id, doc_id // 2 AS k FROM documents),
          |n AS (
          |  SELECT doc_id,
          |    'http://h' || CAST(k % 10 AS VARCHAR) || '.example.com/p/' ||
          |    CAST(k AS VARCHAR) || '?a=0&a=1&b=2' AS url_norm
          |  FROM u)
          |SELECT min(doc_id) AS doc_id, url_norm, count(*) AS n_variants
          |FROM n GROUP BY url_norm ORDER BY doc_id""".stripMargin,
      "q82_domain_cap" ->
        s"""SELECT doc_id, source FROM (
           |  SELECT doc_id, source,
           |         row_number() OVER (PARTITION BY source ORDER BY
           |           ${md5h("'42:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
      "q83_bm25_score" -> {
        // constants interpolated from the SAME Scala doubles the engine
        // uses (Double.toString round-trips, so both engines compute
        // with bit-identical k1 / b / k1+1)
        val k1 = 1.2; val b = 0.75; val k1p1 = k1 + 1.0
        val tfs = Bm25Terms.zipWithIndex.map { case (t2, i) =>
          s"len(list_filter(w, x -> x = '$t2')) AS tf$i"
        }.mkString(",\n  ")
        val dfs = Bm25Terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
          .mkString(",\n  ")
        val contribs = Bm25Terms.indices.map(i =>
          s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5))
             |      * (CAST(tf$i AS DOUBLE) * $k1p1)
             |      / (CAST(tf$i AS DOUBLE) + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE) / avgdl))"""
            .stripMargin)
          .mkString("0.0\n      + ", "\n      + ", "")
        s"""WITH tok AS (SELECT doc_id, $toks AS w FROM documents),
           |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
           |  $tfs
           |  FROM tok),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
           |  $dfs
           |  FROM base)
           |SELECT doc_id, dl,
           |  round($contribs, 6) AS bm25
           |FROM base, st ORDER BY doc_id""".stripMargin
      },
      "q84_gopher_filter" -> {
        // stopword list interpolated from the engine's own constant
        val stops = graft.functions.TextStats.Stopwords
          .map(s2 => s"'$s2'").mkString("[", ", ", "]")
        s"""WITH w AS (SELECT doc_id, text,
           |    list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS t
           |  FROM documents),
           |m AS (SELECT doc_id,
           |    CAST(len(t) AS BIGINT) AS words,
           |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) AS alnum,
           |    CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) AS alpha,
           |    len(list_intersect(list_distinct(t), $stops)) AS dstops,
           |    (length(text) - length(replace(text, '#', '')))
           |      + (length(text) - length(replace(text, '...', ''))) / 3 AS sym,
           |    CAST(len(list_distinct(t)) AS DOUBLE) AS dwords
           |  FROM w),
           |r AS (SELECT doc_id, words,
           |    (words >= 50 AND words <= 100000) AS r_words,
           |    (words > 0 AND alnum / CAST(words AS DOUBLE) >= 3.0
           |       AND alnum / CAST(words AS DOUBLE) <= 10.0) AS r_mean_len,
           |    (words > 0 AND alpha / CAST(words AS DOUBLE) >= 0.8) AS r_alpha,
           |    (dstops >= 2) AS r_stop,
           |    (words > 0 AND CAST(sym AS DOUBLE) / CAST(words AS DOUBLE) <= 0.1) AS r_symbol,
           |    (words > 0 AND 1.0 - dwords / CAST(words AS DOUBLE) <= 0.3) AS r_dup
           |  FROM m)
           |SELECT doc_id, words, r_words, r_mean_len, r_alpha, r_stop, r_symbol, r_dup,
           |  (r_words AND r_mean_len AND r_alpha AND r_stop AND r_symbol AND r_dup) AS keep
           |FROM r ORDER BY doc_id""".stripMargin
      },
      "q85_top_ngrams" ->
        """WITH w AS (SELECT list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
          |                  x -> x <> '') AS t FROM documents),
          |g AS (SELECT unnest(list_transform(range(1, len(t) - 1),
          |               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
          |      FROM w WHERE len(t) >= 3)
          |SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g
          |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,
      // char_entropy parity: string_split(text,'') yields code points;
      // list(n ORDER BY ch) pins the fold to UTF-8 binary order (=
      // codepoint order, the engine's TreeMap iteration); list_sum is
      // a sequential left fold (q51's rule) seeded here with `0.0 +`
      // so a single-symbol doc's -0.0 term normalizes to +0.0 exactly
      // as the engine's 0.0-seeded accumulator does
      "q86_char_entropy" ->
        """WITH hist AS (
          |  SELECT doc_id, ch, count(*)::DOUBLE AS n
          |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
          |        FROM documents) c
          |  GROUP BY 1, 2),
          |agg AS (
          |  SELECT doc_id, list(n ORDER BY ch) AS ns, sum(n) AS total
          |  FROM hist GROUP BY 1)
          |SELECT d.doc_id,
          |       round(0.0 + coalesce(list_sum(
          |         list_transform(a.ns, x -> -(x / a.total) * ln(x / a.total))),
          |         0.0), 6) AS entropy
          |FROM documents d LEFT JOIN agg a USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      "q23_ann_lsh" ->
        s"""WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
           |c AS (SELECT vec_id,
           |        list_sum(v) / (sqrt(64.0) * sqrt(list_sum([x * x for x in v]))) AS cos,
           |        $q23CodeExpr AS code
           |      FROM e)
           |SELECT vec_id, round(cos, 6) AS cos FROM c
           |WHERE bit_count(xor(CAST(code AS BIGINT), CAST($q23QCode AS BIGINT))) <= 2
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
      "q24_lang_id" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
           |l AS (SELECT * FROM (VALUES
           |  ('de', ['der','die','das','und','ist','mit','nicht']),
           |  ('en', ['the','and','of','to','is','with','that']),
           |  ('es', ['el','la','los','que','es','con','para']),
           |  ('fr', ['le','les','des','est','avec','pour','dans']),
           |  ('zh', ['de','shi','le','zai','you','wo','ta'])) AS t(lang, m)),
           |s AS (SELECT w.doc_id, l.lang,
           |        len(list_filter(w.t, x -> list_contains(l.m, x))) AS hits
           |      FROM w CROSS JOIN l),
           |g AS (SELECT doc_id, lang AS guess FROM s
           |      QUALIFY row_number() OVER (PARTITION BY doc_id
           |                                 ORDER BY hits DESC, lang) = 1)
           |SELECT guess, CAST(COUNT(*) AS BIGINT) AS n FROM g
           |GROUP BY guess ORDER BY guess""".stripMargin,
      // corpus is ASCII (byte == char), so the byte-level stub codec is
      // reproducible from the text column
      "q26_multimodal" ->
        """WITH m AS (SELECT doc_id,
          |    CASE WHEN substr(text, 1, 4) = 'GIF8' AND length(text) >= 6 THEN 'gif'
          |         WHEN substr(text, 1, 2) = 'BM' AND length(text) >= 14 THEN 'bmp'
          |         WHEN substr(text, 1, 4) = 'RIFF' THEN 'wav' ELSE 'raw' END AS format,
          |    16 + CAST(list_sum(list_transform(range(1, least(length(text), 16) + 1),
          |                       i -> unicode(substr(text, CAST(i AS INT), 1)))) % 241 AS INT) AS width,
          |    list_transform(range(1, length(text) + 1, 3),
          |                   i -> unicode(substr(text, CAST(i AS INT), 1))) AS c0
          |  FROM documents),
          |r AS (SELECT format, width,
          |        CAST(list_sum(c0) AS DOUBLE) / len(c0) AS c0m FROM m)
          |SELECT format, CAST(COUNT(*) AS BIGINT) AS n,
          |  round(CAST(SUM(CAST(round(c0m, 6) AS DECIMAL(18,6))) AS DOUBLE)
          |        / COUNT(*), 6) AS avg_c0,
          |  round(CAST(SUM(width) AS DOUBLE) / COUNT(*), 6) AS avg_width
          |FROM r GROUP BY format ORDER BY format""".stripMargin,
      "q28_asof_join" ->
        """WITH p AS (SELECT user_id, ts, max(value) AS pv FROM events
          |           WHERE event_type = 'purchase' GROUP BY user_id, ts)
          |SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.pv
          |FROM (SELECT event_id, user_id, ts FROM events
          |      WHERE event_type = 'click') c
          |ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
          |ORDER BY c.event_id""".stripMargin,
      "q29_session_window" -> sessionOracle,
      "q30_cube" ->
        """SELECT c_mktsegment, o_orderpriority,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY CUBE(c_mktsegment, o_orderpriority)
          |ORDER BY c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
      "q31_embedding_neardup_lsh" ->
        s"""WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm,
           |        ${q31CodeExprs.mkString(",\n        ")}
           |      FROM e),
           |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |        round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
           |              / (a.nrm * b.nrm), 6) AS cos
           |      FROM n a JOIN n b ON a.vec_id < b.vec_id AND (
           |        a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3 OR
           |        a.c4 = b.c4 OR a.c5 = b.c5 OR a.c6 = b.c6 OR a.c7 = b.c7))
           |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45
           |ORDER BY id_a, id_b""".stripMargin,
      "q32_range_join" ->
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
          |ORDER BY click_id, purchase_id""".stripMargin,
      // transitive closure by recursive CTE = the DataFrame label loop
      "q33_components" ->
        s"""WITH RECURSIVE
           |w AS (SELECT doc_id, $toks AS t FROM documents),
           |sh AS (SELECT doc_id,
           |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                        for i in range(1, len(t) - 1)]) AS s
           |       FROM w),
           |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
           |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           |p AS (SELECT id_a, id_b FROM pr WHERE round(j, 6) >= 0.8),
           |e AS (SELECT id_a AS src, id_b AS dst FROM p
           |      UNION SELECT id_b, id_a FROM p),
           |reach(id, r) AS (
           |  SELECT src, src FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)
           |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id
           |ORDER BY id""".stripMargin,
      // q33's transitive closure + a loser anti-join: survivors are
      // ids that are their own component minimum (or in no pair)
      "q75_neardup_winners" -> neardupWinnersOracle,
      // same md5-keyed permutation: both engines hash the identical
      // "seed:id" string and agree on the hex digest ordering
      "q76_epoch_shuffle" ->
        """SELECT CAST(row_number() OVER (
          |         ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
          |       AS INTEGER) AS pos, doc_id
          |FROM documents ORDER BY pos""".stripMargin,
      // SemDeDup: q37's assignment CTE -> within-cell q25 pair
      // arithmetic -> q75's closure + loser anti-join
      "q77_semdedup" ->
        """WITH RECURSIVE cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |nn AS (SELECT vec_id, cent_id, [x::DOUBLE for x in embedding] AS v,
          |         sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS nrm
          |       FROM assigned),
          |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |      FROM nn a JOIN nn b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
          |      WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
          |                  / (a.nrm * b.nrm), 6) >= 0.45),
          |e2 AS (SELECT id_a AS src, id_b AS dst FROM p
          |       UNION SELECT id_b, id_a FROM p),
          |reach(id, r) AS (
          |  SELECT src, src FROM e2
          |  UNION
          |  SELECT e2.src, reach.r FROM e2 JOIN reach ON reach.id = e2.dst),
          |losers AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) < id)
          |SELECT a.vec_id, a.cent_id AS cell FROM assigned a
          |WHERE a.vec_id NOT IN (SELECT id FROM losers)
          |ORDER BY a.vec_id""".stripMargin,
      // LM perplexity filter: per-lang bigram counts off the src0
      // slice, add-one smoothing, -avg ln rounded 6dp (ln ulp rule)
      "q78_lm_score" ->
        """WITH ws AS (
          |  SELECT doc_id, lang, source,
          |         list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
          |                     x -> x <> '') AS w
          |  FROM documents
          |), pairs AS (
          |  SELECT doc_id, lang, source, p.w1 AS w1, p.w2 AS w2
          |  FROM (SELECT doc_id, lang, source,
          |          unnest(list_transform(range(1, len(w)),
          |                 i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
          |        FROM ws)
          |), cu AS (
          |  SELECT lang, tok, count(*) AS c
          |  FROM (SELECT lang, unnest(w) AS tok FROM ws WHERE source = 'src0')
          |  GROUP BY 1, 2
          |), v AS (
          |  SELECT lang, count(*) AS v FROM cu GROUP BY 1
          |), cb AS (
          |  SELECT lang, w1, w2, count(*) AS c
          |  FROM pairs WHERE source = 'src0' GROUP BY 1, 2, 3
          |), m AS (
          |  SELECT p.doc_id, p.lang, count(*) AS bigrams,
          |         round(-avg(ln((coalesce(cb.c, 0) + 1.0)
          |                       / (coalesce(cu.c, 0) + v.v))), 6) AS lm_ce
          |  FROM pairs p
          |  LEFT JOIN cb ON cb.lang = p.lang AND cb.w1 = p.w1 AND cb.w2 = p.w2
          |  LEFT JOIN cu ON cu.lang = p.lang AND cu.tok = p.w1
          |  JOIN v ON v.lang = p.lang
          |  GROUP BY 1, 2
          |)
          |SELECT d.doc_id, d.lang, coalesce(m.bigrams, 0) AS bigrams, m.lm_ce
          |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id AND m.lang = d.lang
          |ORDER BY d.doc_id""".stripMargin,
      // DSIR: hashed-gram bucket counts (shared md5lo62 % 2^62 % B
      // recipe), add-one log-ratio weights, md5-Gumbel top-k
      "q79_dsir_select" ->
        """WITH tok AS (
          |  SELECT doc_id, source,
          |         list_filter(string_split_regex(
          |             lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ')), ' '),
          |           x -> x <> '') AS w
          |  FROM documents
          |), grams AS (
          |  SELECT doc_id, source, unnest(w) AS g FROM tok
          |  UNION ALL
          |  SELECT doc_id, source,
          |         unnest(list_transform(range(1, len(w)),
          |                i -> w[i] || ' ' || w[i + 1])) AS g
          |  FROM tok
          |), b AS (
          |  SELECT doc_id, source,
          |         CAST((md5_number_lower(g) % 4611686018427387904) % 1024
          |              AS BIGINT) AS bk
          |  FROM grams
          |), tc AS (SELECT bk, count(*) AS c FROM b WHERE source = 'src0' GROUP BY 1),
          |tt AS (SELECT sum(c)::DOUBLE AS t FROM tc),
          |dc AS (SELECT doc_id, bk, count(*) AS c FROM b GROUP BY 1, 2),
          |rc AS (SELECT bk, sum(c) AS c FROM dc GROUP BY 1),
          |rt AS (SELECT sum(c)::DOUBLE AS t FROM rc),
          |lw AS (SELECT rc.bk,
          |         ln((coalesce(tc.c, 0) + 1.0) / (tt.t + 1024))
          |           - ln((rc.c + 1.0) / (rt.t + 1024)) AS w
          |       FROM rc LEFT JOIN tc USING (bk), tt, rt),
          |sc AS (SELECT dc.doc_id, sum(dc.c * lw.w) AS logw
          |       FROM dc JOIN lw USING (bk) GROUP BY 1),
          |sel AS (
          |  SELECT doc_id, logw,
          |    logw - ln(-ln(((md5_number_lower('7:' || CAST(doc_id AS VARCHAR))
          |                    % 4611686018427387904) + 1) / 4611686018427387905))
          |      AS key
          |  FROM sc
          |  ORDER BY key DESC, doc_id LIMIT 200)
          |SELECT doc_id, round(logw, 6) AS log_weight FROM sel
          |ORDER BY doc_id""".stripMargin,
      "q34_salted_agg" ->
        """SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q35_window_frames" ->
        """SELECT o_custkey, o_orderkey, o_orderdate,
          |  LAG(o_totalprice) OVER w1 AS prev_price,
          |  LEAD(o_orderdate) OVER w1 AS next_date,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |    PARTITION BY o_custkey ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
          |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    AS trailing_30d
          |FROM orders
          |WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
      "q36_topk_agg" ->
        """WITH q AS (SELECT lang, doc_id,
          |    CAST(len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS DOUBLE) AS score
          |  FROM documents)
          |SELECT lang,
          |  CAST(row_number() OVER (PARTITION BY lang
          |                          ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
          |  doc_id, score
          |FROM q QUALIFY rank <= 3
          |ORDER BY lang, rank""".stripMargin,
      // IVF: codebook = the 16 smallest-id vectors; assignment and probe
      // recomputed with the same sequential-fold arithmetic as the engine
      "q37_ann_ivf" ->
        """WITH cmeta AS (
          |  SELECT vec_id AS cent_id, embedding AS cvec,
          |    sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS cnorm
          |  FROM embeddings ORDER BY vec_id LIMIT 16),
          |assigned AS (
          |  SELECT e.vec_id, e.embedding, c.cent_id,
          |    list_sum(list_transform(generate_series(1, 64),
          |             i -> e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))
          |      / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding])) * c.cnorm)
          |      AS cos_c
          |  FROM embeddings e CROSS JOIN cmeta c
          |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
          |                             ORDER BY cos_c DESC, c.cent_id) = 1),
          |probed AS (
          |  SELECT cent_id FROM cmeta
          |  ORDER BY (list_sum([x::DOUBLE for x in cvec]) / (sqrt(64.0) * cnorm)) DESC,
          |           cent_id
          |  LIMIT 4)
          |SELECT a.vec_id,
          |  round(list_sum([x::DOUBLE for x in a.embedding]) /
          |        (sqrt(64.0) * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in a.embedding]))), 6)
          |    AS cos
          |FROM assigned a JOIN probed p USING (cent_id)
          |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin,
      "q38_streaming_dedup" ->
        """SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h""".stripMargin,
      "q39_stateful_sessions" -> sessionOracle,
      "q40_percentile" ->
        """SELECT event_type,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.9), 6) AS p90,
          |  round(quantile_cont(value, 0.99), 6) AS p99
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // bucketed storage changes the physical layout, never the result
      "q41_bucketed_join" ->
        """SELECT c_mktsegment,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q42_explode_sql" -> fixtureOracle,
      "q73_dsv2_source" -> fixtureOracle,
      "q74_chunked_walk" -> {
        // per-chunk VALUES from the same spec member definitions:
        // 300-byte slices, independently digested (q16 rule)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val rows = FixtureLeaves.sortBy(_._1).flatMap { case (p, bytes) =>
          bytes.grouped(300).zipWithIndex.map { case (c, i) =>
            val hex = md.digest(c).map("%02x".format(_)).mkString
            s"('$p', CAST($i AS BIGINT), CAST(${c.length} AS BIGINT), '$hex')"
          }
        }
        s"""SELECT * FROM (VALUES
           |  ${rows.mkString(",\n  ")})
           |  AS t(path, content_part, size, sha256)
           |ORDER BY path, content_part""".stripMargin
      },
      // each event belongs to the two 2h-wide windows whose starts are
      // trunc(ts)-1h and trunc(ts)
      "q43_sliding_window" ->
        """WITH w AS (
          |  SELECT CAST(date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS TIMESTAMP) AS ws,
          |         event_type, value
          |  FROM events CROSS JOIN (VALUES (0), (1)) t(o))
          |SELECT ws, CAST(ws + INTERVAL 2 HOUR AS TIMESTAMP) AS we, event_type,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM w GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
      // the oracle is ALL-pairs Jaccard — it checks the engine's
      // prefix-filter candidate generation for completeness, not just
      // the similarity arithmetic
      "q44_jaccard_neardup" ->
        s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
           |s AS (SELECT doc_id,
           |        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                       for i in range(1, len(t) - 1)]) AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |          CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)
           |      AS jaccard
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.7
           |ORDER BY id_a, id_b""".stripMargin,
      "q45_pivot" ->
        """SELECT o_orderstatus,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          |       FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS "1-URGENT",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          |       FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS "2-HIGH",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          |       FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS "3-MEDIUM",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          |       FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) AS "4-NOT SPECIFIED",
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          |       FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS "5-LOW"
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      // inner stream-stream join output == the batch join
      "q46_stream_stream_join" ->
        """SELECT v.user_id AS user_id, v.event_id AS view_id,
          |  p.event_id AS purchase_id
          |FROM events v JOIN events p ON v.user_id = p.user_id
          | AND v.event_type = 'view' AND p.event_type = 'purchase'
          | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
          |ORDER BY user_id, view_id, purchase_id""".stripMargin,
      // the oracle pins exact values; the sketch columns assert the
      // error envelope (deterministic for a fixed dataset)
      "q47_approx_sketches" ->
        """SELECT l_returnflag,
          |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
          |  TRUE AS hll_within_15pct,
          |  TRUE AS p50_within_5pct
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q48_outer_join" ->
        """WITH a AS (SELECT o_custkey, COUNT(*) AS n_orders,
          |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
          |  FROM orders GROUP BY o_custkey),
          |b AS (SELECT c_custkey, c_name FROM customer
          |  WHERE c_mktsegment = 'BUILDING')
          |SELECT coalesce(o_custkey, c_custkey) AS custkey, c_name,
          |  coalesce(n_orders, 0) AS n_orders,
          |  coalesce(spend, 0.0) AS spend
          |FROM a FULL OUTER JOIN b ON o_custkey = c_custkey
          |ORDER BY custkey""".stripMargin,
      "q49_setops_all" ->
        """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity < 10),
          |b AS (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05),
          |ia AS (SELECT 'intersect_all' AS op, l_orderkey, COUNT(*) AS copies
          |  FROM (SELECT l_orderkey FROM a INTERSECT ALL SELECT l_orderkey FROM b)
          |  GROUP BY l_orderkey),
          |ea AS (SELECT 'except_all' AS op, l_orderkey, COUNT(*) AS copies
          |  FROM (SELECT l_orderkey FROM a EXCEPT ALL SELECT l_orderkey FROM b)
          |  GROUP BY l_orderkey)
          |SELECT op, l_orderkey, copies FROM ia
          |UNION ALL SELECT op, l_orderkey, copies FROM ea
          |ORDER BY op, l_orderkey""".stripMargin,
      // recompute every sampled frame with substring arithmetic:
      // start_i = i*(L-256)/3 (integer), frame = bytes[start, start+256)
      "q50_frame_sample" ->
        """WITH f AS (SELECT doc_id, length(text) AS L, text,
          |    unnest(range(0, 4)) AS i FROM documents),
          |s AS (SELECT doc_id, i AS frame_idx,
          |    CAST((i * greatest(L - 256, 0)) // 3 AS INT) AS st, L, text FROM f)
          |SELECT doc_id, frame_idx,
          |  CAST(least(256, L - st) AS BIGINT) AS flen,
          |  md5(substring(text, st + 1, 256)) AS fhash
          |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
      // DuckDB list comprehensions/list_sum evaluate in element order —
      // the same sequential fold as Spark's aggregate()
      "q51_array_hof" ->
        """WITH w AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS e
          |  FROM embeddings)
          |SELECT vec_id,
          |  CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_pos,
          |  round(list_sum([x * x for x in e]), 6) AS sum_sq,
          |  round(list_max(e), 6) AS max_e,
          |  round(list_sum([e[i] * e[len(e) + 1 - i]
          |                  for i in range(1, len(e) + 1)]), 6) AS rev_dot
          |FROM w ORDER BY vec_id""".stripMargin,
      "q52_bpe_tokens" ->
        """WITH q AS (SELECT lang,
          |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f]+')) AS BIGINT) AS bpe,
          |    CAST(len(string_split_regex(trim(text), '[ \t\n\r\f]+')) AS BIGINT) AS ws
          |  FROM documents)
          |SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
          |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
          |  round(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 6) AS fertility
          |FROM q GROUP BY lang ORDER BY lang""".stripMargin,
      // executed VERBATIM by both engines — the SQL dialect surface
      "q53_sql_tpch_q3" -> q53Sql,
      "q54_subqueries" -> q54Sql,
      "q55_dist_windows" -> q55Sql,
      "q56_grouping_sets" -> q56Sql,
      // ALL-pairs train x ref contamination — checks LSH recall
      "q57_decontaminate" ->
        s"""WITH w AS (SELECT doc_id, source, $toks AS t FROM documents),
           |sh AS (SELECT doc_id, source,
           |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                        for i in range(1, len(t) - 1)]) AS sh
           |       FROM w),
           |tr AS (SELECT doc_id, sh FROM sh WHERE source NOT IN ('src0','src1')),
           |rf AS (SELECT doc_id, sh FROM sh WHERE source IN ('src0','src1')),
           |bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN rf ON
           |    CAST(len(list_intersect(tr.sh, rf.sh)) AS DOUBLE) /
           |    CAST(len(list_distinct(list_concat(tr.sh, rf.sh))) AS DOUBLE) >= 0.8)
           |SELECT doc_id, lang, source FROM documents
           |WHERE source NOT IN ('src0','src1')
           |  AND doc_id NOT IN (SELECT doc_id FROM bad)
           |ORDER BY doc_id""".stripMargin,
      // spec-determined VALUES: the survivors are declared by the
      // fixture member names; sizes and sha256 digests are computed
      // from the member definitions with MessageDigest, independent of
      // the walk/filter path under test
      "q58_text_filter" -> {
        val rows = Q58Members.filter(_._1.startsWith("keep_")).map { case (name, bytes) =>
          val hex = java.security.MessageDigest.getInstance("SHA-256")
            .digest(bytes).map(b => f"$b%02x").mkString
          s"  ('$name', CAST(${bytes.length} AS BIGINT), '$hex')"
        }
        s"SELECT * FROM (VALUES\n${rows.mkString(",\n")})\n" +
          "  AS t(path, size, sha256)\nORDER BY path"
      },
      // hand-derived from the reference spec (min-run emit, short-run
      // carry "abcdefghi"+"jk", EOF flush "no"+"final trailing run!")
      "q59_extract_strings" ->
        """SELECT * FROM (VALUES
          |  (CAST(0 AS BIGINT), 'ABCDEFGHIJ'),
          |  (CAST(1 AS BIGINT), 'abcdefghijk'),
          |  (CAST(2 AS BIGINT), 'nofinal trailing run!'))
          |  AS t(idx, s)
          |ORDER BY idx""".stripMargin,
      // same [ \t\n\r\f]+ whitespace class as the engine (q36/q52
      // convention); range(1, len) is half-open, lists are 1-based
      "q60_repetition" ->
        """WITH ws AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
          |                     x -> x <> '') AS w
          |  FROM documents
          |), wc AS (
          |  SELECT doc_id, tok, count(*) AS c
          |  FROM (SELECT doc_id, unnest(w) AS tok FROM ws) GROUP BY 1, 2
          |), wm AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS words,
          |         CAST(count(*) AS BIGINT) AS distinct_words,
          |         max(c) AS top_w
          |  FROM wc GROUP BY 1
          |), bc AS (
          |  SELECT doc_id, tok, count(*) AS c
          |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
          |                i -> w[i] || ' ' || w[i + 1])) AS tok
          |        FROM ws) GROUP BY 1, 2
          |), bm AS (
          |  SELECT doc_id, sum(c) AS bigrams, max(c) AS top_b FROM bc GROUP BY 1
          |)
          |SELECT d.doc_id, wm.words, wm.distinct_words,
          |  round(1.0 - wm.distinct_words::DOUBLE / nullif(wm.words, 0), 6)
          |    AS dup_word_frac,
          |  round(wm.top_w::DOUBLE / nullif(wm.words, 0), 6) AS top_word_frac,
          |  round(bm.top_b::DOUBLE / nullif(bm.bigrams, 0), 6) AS top_bigram_frac
          |FROM documents d LEFT JOIN wm USING (doc_id) LEFT JOIN bm USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      "q61_stratified_sample" ->
        """SELECT doc_id, lang, source FROM documents
          |WHERE doc_id % 100 < CASE lang
          |  WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END
          |ORDER BY doc_id""".stripMargin,
      // the SAME RE2-safe pattern constants the engine uses (referenced,
      // not retyped, so they cannot drift); DuckDB needs the explicit
      // 'g' flag for replace-all, which is Spark's only behavior
      "q62_pii_scrub" -> {
        val values = Q62Texts
          .map { case (id, s) => s"  (CAST($id AS BIGINT), '${s.replace("'", "''")}')" }
          .mkString(",\n")
        s"""SELECT id, regexp_replace(regexp_replace(regexp_replace(text,
           |    '${TextStats.EmailPattern}', '<EMAIL>', 'g'),
           |    '${TextStats.Ipv4Pattern}', '<IP>', 'g'),
           |    '${TextStats.PhonePattern}', '<PHONE>', 'g') AS scrubbed
           |FROM (VALUES
           |$values)
           |  AS t(id, text)
           |ORDER BY id""".stripMargin
      },
      "q63_recursive_cte" -> q63Sql,
      // the oracle states the SEMANTICS (global exclusive prefix sum)
      // in its naive single-stream form; the engine computes the same
      // values with the two-phase distributed prefix sum
      "q64_seq_packing" ->
        """SELECT doc_id,
          |  CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS start_off,
          |  CAST(floor(coalesce(sum(n_chars) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096.0)
          |    AS BIGINT) AS seq_id
          |FROM documents
          |ORDER BY doc_id""".stripMargin,
      // q152: the classifier restated — q79's proven gram/bucket CTEs,
      // the vendored bias/weights interpolated as constants from the
      // SAME doubles the engine loads (Double.toString round-trips),
      // mean pooling as sum/count, sigmoid on both sides
      "q152_quality_classifier" -> {
        val (buckets, bias, w) = graft.ops.Quality.hashedLinearModel
        val wl = w.mkString("[", ", ", "]")
        s"""WITH tok AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (
           |  SELECT doc_id, unnest(w) AS g FROM tok
           |  UNION ALL
           |  SELECT doc_id,
           |         unnest(list_transform(range(1, len(w)),
           |                i -> w[i] || ' ' || w[i + 1])) AS g
           |  FROM tok),
           |b AS (
           |  SELECT doc_id, CAST(${md5h("g")} % $buckets AS BIGINT) AS bk
           |  FROM grams),
           |agg AS (
           |  SELECT doc_id, count(*) AS n,
           |         sum(wl.l[CAST(bk AS INTEGER) + 1]) AS sw
           |  FROM b, (SELECT $wl AS l) wl GROUP BY doc_id),
           |z AS (
           |  SELECT d.doc_id,
           |    $bias + coalesce(a.sw / a.n, 0.0) AS z
           |  FROM documents d LEFT JOIN agg a USING (doc_id))
           |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
           |  (round(1.0 / (1.0 + exp(-z)), 6) >= 0.5) AS keep
           |FROM z ORDER BY doc_id""".stripMargin
      },
      // q153: the exact per-shard FFD greedy as a recursive CTE —
      // state per (shard, step) is the ordered list of bin
      // remainders; fbi = the 1-based first bin that fits (NULL =
      // open a new bin); the engine's sharded flatMapGroups must land
      // on the identical assignment row for row
      "q153_ffd_packing" ->
        """WITH RECURSIVE base AS (
          |  SELECT doc_id, doc_id % 8 AS shard, CAST(n_chars AS BIGINT) AS t,
          |    CAST(row_number() OVER (PARTITION BY doc_id % 8
          |                            ORDER BY n_chars DESC, doc_id) AS BIGINT) AS k
          |  FROM documents),
          |pack AS (
          |  SELECT shard, CAST(0 AS BIGINT) AS k, []::BIGINT[] AS rem,
          |         NULL::BIGINT AS doc_id, NULL::BIGINT AS t,
          |         NULL::BIGINT AS bin, NULL::BIGINT AS bin_off
          |  FROM (SELECT DISTINCT doc_id % 8 AS shard FROM documents)
          |  UNION ALL
          |  SELECT shard, k,
          |    CASE WHEN fbi IS NULL THEN list_append(rem, 2048 - t)
          |         ELSE list_transform(range(1, len(rem) + 1),
          |                i -> CASE WHEN i = fbi THEN rem[i] - t
          |                     ELSE rem[i] END)
          |    END AS rem,
          |    doc_id, t,
          |    CASE WHEN fbi IS NULL THEN CAST(len(rem) AS BIGINT)
          |         ELSE fbi - 1 END AS bin,
          |    CASE WHEN fbi IS NULL THEN CAST(0 AS BIGINT)
          |         ELSE 2048 - rem[CAST(fbi AS INTEGER)] END AS bin_off
          |  FROM (
          |    SELECT p.shard, b.k, p.rem, b.doc_id, b.t,
          |      list_min([i for i in range(1, len(p.rem) + 1)
          |                if p.rem[i] >= b.t]) AS fbi
          |    FROM pack p
          |    JOIN base b ON b.shard = p.shard AND b.k = p.k + 1))
          |SELECT doc_id, t AS tokens, shard, bin, bin_off
          |FROM pack WHERE doc_id IS NOT NULL
          |ORDER BY doc_id""".stripMargin,
      // q155: the composed corpus is whitespace-joined repetition of
      // the q126 case texts, so each document's REAL BPE token count
      // is exactly repeats x the independent train_bpe.py literal
      // (the pretokenizer never merges across whitespace — counts are
      // additive over the join); then q153's proven FFD recurrence
      // replays the packing and the rollup restates the report
      "q155_bpe_ffd_pack" ->
        """WITH RECURSIVE cases(idx, bpe) AS (
          |  SELECT * FROM (VALUES
          |    (0, CAST(5 AS BIGINT)), (1, CAST(23 AS BIGINT)),
          |    (2, CAST(7 AS BIGINT)), (3, CAST(11 AS BIGINT)),
          |    (4, CAST(6 AS BIGINT)), (5, CAST(19 AS BIGINT)),
          |    (6, CAST(18 AS BIGINT)), (7, CAST(12 AS BIGINT)),
          |    (8, CAST(5 AS BIGINT)), (9, CAST(22 AS BIGINT)),
          |    (10, CAST(14 AS BIGINT)), (11, CAST(5 AS BIGINT)))),
          |docs AS (
          |  SELECT CAST(r.i AS BIGINT) AS doc_id,
          |         CAST((1 + r.i % 9) * c.bpe AS BIGINT) AS t
          |  FROM range(96) r(i) JOIN cases c ON c.idx = r.i % 12),
          |base AS (
          |  SELECT doc_id, doc_id % 4 AS shard, t,
          |    CAST(row_number() OVER (PARTITION BY doc_id % 4
          |                            ORDER BY t DESC, doc_id) AS BIGINT) AS k
          |  FROM docs),
          |pack AS (
          |  SELECT shard, CAST(0 AS BIGINT) AS k, []::BIGINT[] AS rem,
          |         NULL::BIGINT AS doc_id, NULL::BIGINT AS t,
          |         NULL::BIGINT AS bin, NULL::BIGINT AS bin_off
          |  FROM (SELECT DISTINCT doc_id % 4 AS shard FROM docs)
          |  UNION ALL
          |  SELECT shard, k,
          |    CASE WHEN fbi IS NULL THEN list_append(rem, 256 - t)
          |         ELSE list_transform(range(1, len(rem) + 1),
          |                i -> CASE WHEN i = fbi THEN rem[i] - t
          |                     ELSE rem[i] END)
          |    END AS rem,
          |    doc_id, t,
          |    CASE WHEN fbi IS NULL THEN CAST(len(rem) AS BIGINT)
          |         ELSE fbi - 1 END AS bin,
          |    CASE WHEN fbi IS NULL THEN CAST(0 AS BIGINT)
          |         ELSE 256 - rem[CAST(fbi AS INTEGER)] END AS bin_off
          |  FROM (
          |    SELECT p.shard, b.k, p.rem, b.doc_id, b.t,
          |      list_min([i for i in range(1, len(p.rem) + 1)
          |                if p.rem[i] >= b.t]) AS fbi
          |    FROM pack p
          |    JOIN base b ON b.shard = p.shard AND b.k = p.k + 1))
          |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(t) AS BIGINT) AS bin_tokens,
          |       round(sum(t) / 256.0, 6) AS fill
          |FROM pack WHERE doc_id IS NOT NULL
          |GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
      // relational statement of the map round-trip: same tokenizer as
      // the engine (strip non-alnum, lowercase, split), HAVING >= 5
      "q65_map_hof" ->
        """SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
          |FROM (
          |  SELECT doc_id,
          |         unnest(list_filter(
          |           string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
          |           x -> x <> '')) AS tok
          |  FROM documents)
          |GROUP BY doc_id, tok
          |HAVING count(*) >= 5
          |ORDER BY doc_id, tok""".stripMargin,
      "q66_unpivot" ->
        """SELECT l_returnflag, m.measure, m.value FROM (
          |  SELECT l_returnflag,
          |    CAST(sum(l_quantity) AS DOUBLE) AS qty,
          |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
          |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
          |  FROM lineitem GROUP BY l_returnflag) w,
          |  LATERAL (VALUES ('qty', w.qty), ('price', w.price), ('disc', w.disc))
          |    AS m(measure, value)
          |ORDER BY l_returnflag, m.measure""".stripMargin,
      "q67_lateral_topn" -> q67Sql,
      // exact distincts + the envelope stated as a constant: DuckDB
      // cannot read datasketches binaries, but the CLAIM under test —
      // per-group and MERGED estimates land within the envelope — is a
      // boolean both engines can state (q47 rule)
      "q68_hll_sketches" ->
        """SELECT status, exact_d, TRUE AS within_5pct FROM (
          |  SELECT o_orderstatus AS status,
          |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_d
          |  FROM orders GROUP BY o_orderstatus
          |  UNION ALL
          |  SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT)
          |  FROM orders)
          |ORDER BY status""".stripMargin,
      // same injected boilerplate, relational restatement: positional
      // explode, document-frequency HAVING over non-blank lines,
      // NOT IN anti-join, ordered string_agg reassembly; blank-line
      // immunity via trim() (space-trim in both dialects)
      "q69_line_dedup" ->
        """WITH d2 AS (
          |  SELECT doc_id, 'NAV MENU' || chr(10) || text || chr(10) ||
          |         'COPYRIGHT 2024 EXAMPLE CORP' AS text2
          |  FROM documents
          |), ls AS (
          |  SELECT doc_id, unnest(parts) AS line,
          |         generate_subscripts(parts, 1) AS pos
          |  FROM (SELECT doc_id, string_split(text2, chr(10)) AS parts FROM d2)
          |), bl AS (
          |  SELECT line FROM (
          |    SELECT DISTINCT doc_id, line FROM ls WHERE trim(line) <> '')
          |  GROUP BY line HAVING count(*) >= 10
          |)
          |SELECT d2.doc_id, coalesce(r.text2, '') AS text2
          |FROM d2 LEFT JOIN (
          |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text2
          |  FROM ls WHERE line NOT IN (SELECT line FROM bl)
          |  GROUP BY doc_id) r USING (doc_id)
          |ORDER BY d2.doc_id""".stripMargin,
      // same floor + id-keyed fractional remainder; unnest(range(...))
      // replicates per-row (range(1,1) is empty, so 0-copy rows vanish
      // like the engine's where > 0); e cast to DOUBLE so both engines
      // do the same floating arithmetic before round()
      "q70_upsample" ->
        """SELECT doc_id, lang, unnest(range(1, copies + 1)) AS epoch
          |FROM (
          |  SELECT doc_id, lang,
          |    CAST(floor(e) AS BIGINT) +
          |    CASE WHEN doc_id % 100 < round((e - floor(e)) * 100)
          |         THEN 1 ELSE 0 END AS copies
          |  FROM (SELECT doc_id, lang,
          |    CAST(CASE lang WHEN 'en' THEN 2.3 WHEN 'zh' THEN 0.5
          |         ELSE 1.0 END AS DOUBLE) AS e
          |    FROM documents))
          |ORDER BY doc_id, epoch""".stripMargin,
      // zipped unnest(range) gives (win_id, dynamic substring) pairs;
      // substring is 1-based char-counted in both dialects
      "q71_chunk_windows" ->
        """SELECT doc_id, unnest(range(0, n)) AS win_id,
          |  substring(text, CAST(unnest(range(0, n)) * 150 + 1 AS INT), 200)
          |    AS chunk
          |FROM (SELECT doc_id, text,
          |  CASE WHEN length(text) <= 200 THEN 1
          |       ELSE CAST(ceil((length(text) - 200) / 150.0) AS BIGINT) + 1
          |  END AS n
          |  FROM documents)
          |ORDER BY doc_id, win_id""".stripMargin,
      // the q16 VALUES rows inside the declared half-open range
      "q72_size_filter" ->
        """SELECT * FROM (VALUES
          |  ('e.txt.zst', CAST(390 AS BIGINT),
          |   'be9a5820be89dcdce4b8df97c01cdf2e98ebc407e957ae930a0396a8122ab2cb'),
          |  ('f.txt.xz', CAST(370 AS BIGINT),
          |   '14df686258199a2d006cb28a8c51120f12385acd67cc2ef99fb0412be003bc6e'),
          |  ('g.txt.bz2', CAST(400 AS BIGINT),
          |   'f2ab80f749efe643b97fe67f91432f8bf7938d4942ed1880fc91e411a2423789'),
          |  ('inner2.tar.zst/h.txt', CAST(170 AS BIGINT),
          |   '4fd9024cec0e7478e760c58707179f0e6f5680ab92f89cc4d76d730209dd7e1e'))
          |  AS t(path, size, sha256)
          |ORDER BY path""".stripMargin)
  }
}
