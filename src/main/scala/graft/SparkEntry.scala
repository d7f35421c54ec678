package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{ClassifyOps, CurateOps, Mp4Ops, PdfOps, RobotsOps, DedupOps, GraphOps, HtmlOps, LayoutOps, MarkdownOps, MessageOps, MultimodalOps, PackOps, PiiOps, RelationalOps, SampleOps, SearchOps, SessionOps, SimilarityOps, SkewOps, TextOps, TimeSeriesOps, UnigramOps, UrlOps, WarcOps, ZipOps, EpubOps, SitemapOps, CdxOps, TarOps, WetOps, FeedOps, MetaOps, TfRecordOps, Mp3Ops, FrontierOps, SubtitleOps, ScriptOps, SnapshotDiffOps, EmailOps, UnidiffOps, FlacOps, TiffOps, NotebookOps, CodeOps, SentenceOps, LangIdOps, OggOps, TabularOps, SvgOps, ReportOps, RedirectOps, AudioDedupOps, XlsxOps, WatOps, DumpOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the correctness surface: one entry per implemented operator
  * from SURVEY.md §2, each with a DuckDB-equivalent SQL oracle where the
  * semantics are SQL-expressible. Column names/aliases match the oracle SQL
  * exactly (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The stateful session merge is the engine's identity operator.
    */
  def entry(spark: SparkSession): DataFrame =
    SessionOps.q16SessionMerge(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"            -> (RelationalOps.q1Agg(_, _)),
    "q2_filter_project" -> (RelationalOps.q2FilterProject(_, _)),
    "q3_join_inner"     -> (RelationalOps.q3JoinInner(_, _)),
    "q4_window_latest"  -> (RelationalOps.q4WindowLatest(_, _)),
    "q5_distinct"       -> (RelationalOps.q5Distinct(_, _)),
    "q6_json_extract"   -> (RelationalOps.q6JsonExtract(_, _)),
    "q7_json_build"     -> (RelationalOps.q7JsonBuild(_, _)),
    "q8_topk"           -> (RelationalOps.q8TopK(_, _)),
    "q9_multi_join"     -> (RelationalOps.q9MultiJoin(_, _)),
    "q10_ranked_cte"    -> (RelationalOps.q10RankedCte(_, _)),
    "q11_semi_join"     -> (RelationalOps.q11SemiJoin(_, _)),
    "q12_anti_join"     -> (RelationalOps.q12AntiJoin(_, _)),
    "q13_argmax"        -> (RelationalOps.q13Argmax(_, _)),
    "q14_encode"        -> (RelationalOps.q14Encode(_, _)),
    "q15_time_bucket"   -> (RelationalOps.q15TimeBucket(_, _)),
    "q16_session_merge" -> (SessionOps.q16SessionMerge(_, _)),
    "q17_message_parse" -> (MessageOps.q17MessageParse(_, _)),
    "q18_exact_dedup"   -> (DedupOps.q18ExactDedup(_, _)),
    "q20_minhash_neardup" -> (DedupOps.q20MinhashNearDup(_, _)),
    "q21_simhash"       -> (DedupOps.q21Simhash(_, _)),
    "q19_text_stats"    -> (TextOps.q19TextStats(_, _)),
    "q22_fingerprint"   -> (TextOps.q22Fingerprint(_, _)),
    "q23_ann_topk"      -> (SimilarityOps.q23AnnTopK(_, _)),
    "q24_ann_lsh"       -> (SimilarityOps.q24AnnLsh(_, _)),
    "q25_multimodal"    -> (MultimodalOps.q25Multimodal(_, _)),
    "q26_frames"        -> (MultimodalOps.q26Frames(_, _)),
    "q27_salted_distinct" -> (SkewOps.q27SaltedDistinct(_, _)),
    "q28_cosine_neardup" -> (SimilarityOps.q28CosineNearDup(_, _)),
    "q29_windowed_agg"  -> (graft.streaming.EventWindows.q29WindowedAgg(_, _)),
    "q30_ngram_jaccard" -> (DedupOps.q30NgramJaccard(_, _)),
    "q31_token_count"   -> (TextOps.q31TokenCount(_, _)),
    "q32_ann_ivf"       -> (SimilarityOps.q32AnnIvf(_, _)),
    "q33_sessionize"    -> (SessionOps.q33Sessionize(_, _)),
    "q34_value_stats"   -> (RelationalOps.q34ValueStats(_, _)),
    "q35_asof_join"     -> (SessionOps.q35AsofJoin(_, _)),
    "q36_dedup_groups"  -> (DedupOps.q36DedupGroups(_, _)),
    "q37_repetition"    -> (TextOps.q37Repetition(_, _)),
    "q38_ann_ivf_indexed" -> (SimilarityOps.q38AnnIvfIndexed(_, _)),
    "q39_pack_chunks"   -> (PackOps.q39PackChunks(_, _)),
    "q40_decontaminate" -> (DedupOps.q40Decontaminate(_, _)),
    "q41_stratified_sample" -> (SampleOps.q41StratifiedSample(_, _)),
    "q42_weighted_mix"  -> (SampleOps.q42WeightedMix(_, _)),
    "q43_decode_features" -> (MultimodalOps.q43DecodeFeatures(_, _)),
    "q44_pii_redact"    -> (TextOps.q44PiiRedact(_, _)),
    "q45_curate"        -> (CurateOps.q45Curate(_, _)),
    "q46_resize"        -> (MultimodalOps.q46Resize(_, _)),
    "q47_epoch"         -> (PackOps.q47Epoch(_, _)),
    "q48_video_frames"  -> (MultimodalOps.q48VideoFrames(_, _)),
    "q49_ivf_stream_parity" -> (SimilarityOps.q49StreamIndexParity(_, _)),
    "q50_audio_resample" -> (MultimodalOps.q50AudioResample(_, _)),
    "q51_resize_bilinear" -> (MultimodalOps.q51ResizeBilinear(_, _)),
    "q52_audio_linear"  -> (MultimodalOps.q52AudioLinearResample(_, _)),
    "q53_rle_video"     -> (MultimodalOps.q53RleVideoFrames(_, _)),
    "q54_length_profile" -> (TextOps.q54LengthProfile(_, _)),
    "q55_rollup"        -> (RelationalOps.q55Rollup(_, _)),
    "q56_set_ops"       -> (RelationalOps.q56SetOps(_, _)),
    "q57_contamination_score" -> (DedupOps.q57ContaminationScore(_, _)),
    "q58_topk_per_group" -> (RelationalOps.q58TopKPerGroup(_, _)),
    "q59_frequent_ngrams" -> (TextOps.q59FrequentNgrams(_, _)),
    "q60_uniform_group_sample" -> (SampleOps.q60UniformGroupSample(_, _)),
    "q61_boilerplate_coverage" -> (TextOps.q61BoilerplateCoverage(_, _)),
    "q62_quantized_topk" -> (SimilarityOps.q62QuantizedTopK(_, _)),
    "q63_decontaminate_bloom" -> (DedupOps.q63DecontaminateBloom(_, _)),
    "q64_vocab_coverage" -> (TextOps.q64VocabCoverage(_, _)),
    "q65_minhash_replay" -> (DedupOps.q65MinhashReplay(_, _)),
    "q66_simhash_replay" -> (DedupOps.q66SimhashReplay(_, _)),
    "q67_winnow_replay" -> (TextOps.q67WinnowReplay(_, _)),
    "q68_ivf_sq8" -> (SimilarityOps.q68IvfSq8(_, _)),
    "q69_png_decode" -> (MultimodalOps.q69PngDecode(_, _)),
    "q70_strip_boilerplate" -> (TextOps.q70StripBoilerplate(_, _)),
    "q71_embed_guard_parity" -> (graft.streaming.StreamEmbedIndex.q71GuardParity(_, _)),
    "q72_srp_replay" -> (SimilarityOps.q72SrpReplay(_, _)),
    "q73_length_profile_agg" -> (TextOps.q73LengthProfileAgg(_, _)),
    "q74_span_candidates" -> (TextOps.q74SpanCandidates(_, _)),
    "q75_gopher_quality" -> (TextOps.q75GopherQuality(_, _)),
    "q76_dup_ngrams" -> (TextOps.q76DupNgrams(_, _)),
    "q77_clean_profile" -> (CurateOps.q77CleanProfile(_, _)),
    "q78_gray_png_decode" -> (MultimodalOps.q78GrayPngDecode(_, _)),
    "q79_span_extract" -> (TextOps.q79SpanExtract(_, _)),
    "q80_bpe_tokens" -> (TextOps.q80BpeTokens(_, _)),
    "q81_bpe_length_profile" -> (TextOps.q81BpeLengthProfile(_, _)),
    "q82_bpe_pack_chunks" -> (PackOps.q82BpePackChunks(_, _)),
    "q83_jpeg_decode" -> (MultimodalOps.q83JpegDecode(_, _)),
    "q84_jpeg_color_decode" -> (MultimodalOps.q84JpegColorDecode(_, _)),
    "q85_jpeg_transcode" -> (MultimodalOps.q85JpegTranscode(_, _)),
    "q86_gif_decode" -> (MultimodalOps.q86GifDecode(_, _)),
    "q87_cross_container_dedup" -> (MultimodalOps.q87CrossContainerDedup(_, _)),
    "q88_image_dhash" -> (MultimodalOps.q88ImageDhash(_, _)),
    "q89_g711_decode" -> (MultimodalOps.q89G711Decode(_, _)),
    "q90_interval_join" -> (TimeSeriesOps.q90IntervalJoin(_, _)),
    "q91_gapfill" -> (TimeSeriesOps.q91GapFill(_, _)),
    "q92_lm_quality" -> (SearchOps.q92LmQuality(_, _)),
    "q93_keyword_search" -> (SearchOps.q93KeywordSearch(_, _)),
    "q94_pivot" -> (RelationalOps.q94Pivot(_, _)),
    "q95_funnel" -> (TimeSeriesOps.q95Funnel(_, _)),
    "q96_cohort_retention" -> (TimeSeriesOps.q96CohortRetention(_, _)),
    "q97_hll_sketch" -> (SkewOps.q97HllSketch(_, _)),
    "q98_cms_sketch" -> (SkewOps.q98CmsSketch(_, _)),
    "q99_pagerank" -> (GraphOps.q99PageRank(_, _)),
    "q100_scd2" -> (TimeSeriesOps.q100Scd2(_, _)),
    "q101_bloom_sketch" -> (SkewOps.q101BloomSketch(_, _)),
    "q102_zorder_index" -> (LayoutOps.q102ZorderIndex(_, _)),
    "q103_hll_intersect" -> (SkewOps.q103HllIntersect(_, _)),
    "q104_cooccurrence" -> (GraphOps.q104CoOccurrence(_, _)),
    "q105_conversion_profile" -> (TimeSeriesOps.q105ConversionProfile(_, _)),
    "q106_sliding_window" -> (graft.streaming.EventWindows.q106SlidingWindow(_, _)),
    "q107_backoff_lm" -> (SearchOps.q107BackoffLm(_, _)),
    "q108_bpe_train" -> (TextOps.q108BpeTrain(_, _)),
    "q109_tfidf_cosine" -> (SimilarityOps.q109TfidfCosine(_, _)),
    "q110_session_paths" -> (SessionOps.q110SessionPaths(_, _)),
    "q111_association_rules" -> (SessionOps.q111AssociationRules(_, _)),
    "q112_jpeg_progressive" -> (MultimodalOps.q112JpegProgressiveDecode(_, _)),
    "q113_bm25" -> (SearchOps.q113Bm25(_, _)),
    "q114_gif_frames" -> (MultimodalOps.q114GifFrames(_, _)),
    "q115_ivf_pq" -> (SimilarityOps.q115IvfPq(_, _)),
    "q116_decontam_retrieval" -> (SearchOps.q116DecontaminateRetrieval(_, _)),
    "q117_triangles" -> (GraphOps.q117Triangles(_, _)),
    "q118_audio_windows" -> (MultimodalOps.q118AudioWindows(_, _)),
    "q119_shot_detect" -> (MultimodalOps.q119ShotDetect(_, _)),
    "q120_ivf_pq_indexed" -> (SimilarityOps.q120IvfPqIndexed(_, _)),
    "q121_segment_dedup" -> (DedupOps.q121SegmentDedup(_, _)),
    "q122_html_extract" -> (HtmlOps.q122HtmlExtract(_, _)),
    "q123_webp_decode" -> (MultimodalOps.q123WebpDecode(_, _)),
    "q124_unigram_train" -> (UnigramOps.q124UnigramTrain(_, _)),
    "q125_unigram_apply" -> (UnigramOps.q125UnigramApply(_, _)),
    "q126_semantic_dedup" -> (SimilarityOps.q126SemanticDedup(_, _)),
    "q127_ann_graph" -> (SimilarityOps.q127AnnGraph(_, _)),
    "q128_warc_extract" -> (WarcOps.q128WarcExtract(_, _)),
    "q129_url_canonicalize" -> (UrlOps.q129UrlCanonicalize(_, _)),
    "q130_pii_scrub" -> (PiiOps.q130PiiScrub(_, _)),
    "q131_nb_quality" -> (ClassifyOps.q131NbQuality(_, _)),
    "q132_main_content" -> (HtmlOps.q132MainContent(_, _)),
    "q133_video_neardup" -> (MultimodalOps.q133VideoNearDup(_, _)),
    "q134_markdown_extract" -> (MarkdownOps.q134MarkdownExtract(_, _)),
    "q135_warc_gz_extract" -> (WarcOps.q135WarcGzExtract(_, _)),
    "q136_pdf_extract" -> (PdfOps.q136PdfExtract(_, _)),
    "q137_mp4_extract" -> (Mp4Ops.q137Mp4Extract(_, _)),
    "q138_vp8_decode" -> (MultimodalOps.q138Vp8Decode(_, _)),
    "q139_warc_http_extract" -> (WarcOps.q139WarcHttpExtract(_, _)),
    "q168_vp8_bpred" -> (MultimodalOps.q168Vp8Bpred(_, _)),
    "q170_langid" -> (LangIdOps.q170LangId(_, _)),
    "q171_mp4_neardup" -> (Mp4Ops.q171Mp4NearDup(_, _)),
    "q172_cdx_fetch" -> (CdxOps.q172CdxFetch(_, _)),
    "q173_warc_meta_charset" -> (WarcOps.q173WarcMetaCharset(_, _)),
    "q174_ogg_extract" -> (OggOps.q174OggExtract(_, _)),
    "q175_csv_roundtrip" -> (TabularOps.q175CsvRoundTrip(_, _)),
    "q176_webdataset_export" -> (TarOps.q176WebdatasetExport(_, _)),
    "q177_svg_extract" -> (SvgOps.q177SvgExtract(_, _)),
    "q178_corpus_report" -> (ReportOps.q178CorpusReport(_, _)),
    "q179_redirect_resolve" -> (RedirectOps.q179RedirectResolve(_, _)),
    "q180_langid_und" -> (LangIdOps.q180LangIdUnd(_, _)),
    "q181_pdf_cid" -> (PdfOps.q181PdfCidExtract(_, _)),
    "q182_frontier_timing" -> (FrontierOps.q182FrontierTiming(_, _)),
    "q183_audio_neardup" -> (AudioDedupOps.q183AudioNearDup(_, _)),
    "q184_coding_report" -> (WarcOps.q184CodingReport(_, _)),
    "q185_warc_zst_extract" -> (WarcOps.q185WarcZstExtract(_, _)),
    "q186_warc_zst_dict" -> (WarcOps.q186WarcZstDictExtract(_, _)),
    "q187_pcm_neardup" -> (AudioDedupOps.q187PcmNearDup(_, _)),
    "q188_xlsx_extract" -> (XlsxOps.q188XlsxExtract(_, _)),
    "q189_wat_roundtrip" -> (WatOps.q189WatRoundtrip(_, _)),
    "q190_png_legacy" -> (MultimodalOps.q190PngLegacyDecode(_, _)),
    "q191_tiff_compressed" -> (TiffOps.q191TiffCompressed(_, _)),
    "q192_cdx_zst_fetch" -> (CdxOps.q192CdxZstFetch(_, _)),
    "q193_png_depth" -> (MultimodalOps.q193PngDepthDecode(_, _)),
    "q194_span_corruption" -> (PackOps.q194SpanCorruption(_, _)),
    "q195_warc_zst_write" -> (WarcOps.q195WarcZstWrite(_, _)),
    "q196_dump_multistream" -> (DumpOps.q196DumpMultistream(_, _)),
    "q197_lz4_shard" -> (DumpOps.q197Lz4Shard(_, _)),
    "q198_fim_objective" -> (PackOps.q198FimObjective(_, _)),
    "q199_png_trns" -> (MultimodalOps.q199PngTrns(_, _)),
    "q200_tiff_tiled" -> (TiffOps.q200TiffTiled(_, _)),
    "q201_tar_xz" -> (TarOps.q201TarXz(_, _)),
    "q202_chat_sft" -> (PackOps.q202ChatSft(_, _)),
    "q203_pack_mask" -> (PackOps.q203PackMask(_, _)),
    "q204_seekable_fetch" -> (WarcOps.q204SeekableFetch(_, _)),
    "q205_importance_sample" -> (CurateOps.q205ImportanceSample(_, _)),
    "q169_vp8_loop_filter" -> (MultimodalOps.q169Vp8LoopFilter(_, _)),
    "q140_pdf_xref_stream" -> (PdfOps.q140PdfXrefStream(_, _)),
    "q141_robots_gate" -> (RobotsOps.q141RobotsGate(_, _)),
    "q142_warc_charset" -> (WarcOps.q142WarcCharset(_, _)),
    "q143_docx_extract" -> (ZipOps.q143DocxExtract(_, _)),
    "q144_epub_extract" -> (EpubOps.q144EpubExtract(_, _)),
    "q145_sitemap_parse" -> (SitemapOps.q145SitemapParse(_, _)),
    "q146_cdx_index" -> (CdxOps.q146CdxIndex(_, _)),
    "q147_tar_extract" -> (TarOps.q147TarExtract(_, _)),
    "q148_wet_roundtrip" -> (WetOps.q148WetRoundtrip(_, _)),
    "q149_feed_parse" -> (FeedOps.q149FeedParse(_, _)),
    "q150_meta_extract" -> (MetaOps.q150MetaExtract(_, _)),
    "q151_jsonld_extract" -> (MetaOps.q151JsonldExtract(_, _)),
    "q152_tfrecord_roundtrip" -> (TfRecordOps.q152TfrecordRoundtrip(_, _)),
    "q153_mp3_scan" -> (Mp3Ops.q153Mp3Scan(_, _)),
    "q154_frontier_schedule" -> (FrontierOps.q154FrontierSchedule(_, _)),
    "q155_subtitle_extract" -> (SubtitleOps.q155SubtitleExtract(_, _)),
    "q156_data_uri_extract" -> (MetaOps.q156DataUriExtract(_, _)),
    "q157_script_detect" -> (ScriptOps.q157ScriptDetect(_, _)),
    "q158_snapshot_diff" -> (SnapshotDiffOps.q158SnapshotDiff(_, _)),
    "q159_eml_extract" -> (EmailOps.q159EmlExtract(_, _)),
    "q160_unidiff_apply" -> (UnidiffOps.q160UnidiffApply(_, _)),
    "q161_flac_scan" -> (FlacOps.q161FlacScan(_, _)),
    "q162_tiff_scan" -> (TiffOps.q162TiffScan(_, _)),
    "q163_notebook_extract" -> (NotebookOps.q163NotebookExtract(_, _)),
    "q164_mbox_extract" -> (EmailOps.q164MboxExtract(_, _)),
    "q165_code_quality" -> (CodeOps.q165CodeQuality(_, _)),
    "q166_warc_revisit" -> (WetOps.q166WarcRevisit(_, _)),
    "q167_sentence_split" -> (SentenceOps.q167SentenceSplit(_, _)),
  )

  /** Shared oracle fragment for the BPE queries (q80–q82): the engine's
    * fixed merges table replayed one-pair-at-a-time by a recursive CTE —
    * per step, each word-state applies the leftmost occurrence of its
    * lowest-rank applicable merge; for a WELL-FORMED table this is
    * provably the GPT-2 merge-all loop's result (see `BpeFold`). Word
    * states ride as space-separated token strings wrapped in spaces, so
    * a merge is one `strpos` + string surgery. Ends in
    * `bpe(doc_id, n_bpe, tok_digest)`; callers must open WITH RECURSIVE.
    */
  private def bpeCtes: String = {
    val merges = graft.functions.BpeFold.Merges.zipWithIndex
      .map { case ((l, r), i) => s"($i, ' $l $r ', ' $l$r ')" }
      .grouped(4).map(_.mkString(", ")).mkString(",\n        |    ")
    s"""pre AS (SELECT doc_id,
       |          regexp_extract_all(lower(text), '${operators.TextOps.BpeTokenPattern}', 0) AS ws
       |        FROM documents),
       |words AS (SELECT doc_id, widx, ws[widx] AS w
       |          FROM pre, unnest(range(1, len(ws) + 1)) AS t(widx)),
       |init AS (SELECT doc_id, widx,
       |           ' ' || array_to_string(list_transform(range(length(w)),
       |                   i -> substr(w, i + 1, 1)), ' ') || ' ' AS s
       |         FROM words),
       |merges AS (SELECT * FROM (VALUES
       |    $merges) m(rank, pat, rep)),
       |rec AS (
       |  SELECT doc_id, widx, s FROM init
       |  UNION ALL
       |  SELECT b.doc_id, b.widx,
       |    substr(b.s, 1, strpos(b.s, m.pat) - 1) || m.rep ||
       |      substr(b.s, strpos(b.s, m.pat) + length(m.pat)) AS s
       |  FROM (SELECT doc_id, widx, s,
       |          (SELECT min(m2.rank) FROM merges m2 WHERE strpos(s, m2.pat) > 0) AS br
       |        FROM rec) b
       |  JOIN merges m ON m.rank = b.br),
       |fin AS (SELECT doc_id, widx, s,
       |          row_number() OVER (PARTITION BY doc_id, widx ORDER BY length(s)) AS rn
       |        FROM rec),
       |wtok AS (SELECT doc_id, widx, trim(s) AS ts FROM fin WHERE rn = 1),
       |bpe AS (SELECT p.doc_id,
       |          coalesce(sum(len(string_split(ts, ' '))), 0)::BIGINT AS n_bpe,
       |          coalesce(md5(string_agg(ts, ' ' ORDER BY widx)), md5('')) AS tok_digest
       |        FROM pre p LEFT JOIN wtok USING (doc_id)
       |        GROUP BY p.doc_id)""".stripMargin
  }

  /** Shared CTE chain of the HTML-extraction oracles (q122 / q128):
    * synthetic markup rebuilt from (doc_id, text), then the full
    * extraction rule chain in the Java/RE2 common dialect, ending in a
    * CTE `b(doc_id, blocks)`.
    */
  private def htmlExtractCtes(htmlSuffix: String = ""): String =
    """WITH h AS (SELECT doc_id,
      |    '<html><head><title>Doc ' || doc_id ||
      |    '</title><style type="text/css"> p { color: #fff; } </style>' ||
      |    '<script> if (1 < 2 && x > 0) { y = "<p>nope</p>"; } </script>' ||
      |    '</head><body><!-- comment ' || doc_id ||
      |    ' --><h1 class="t">Heading ' || doc_id ||
      |    '</h1><p>' || text ||
      |    '</p><div id="tail">Tail&nbsp;&amp;&nbsp;&lt;b&gt; &quot;q&quot; ' ||
      |    '&#39;v&#39; &apos;w&apos; of ' || doc_id ||
      |    '</div><div>Plus&#233;e &#8212; &#x1F600; &#60;i&#62; ' ||
      |    '&#x3C;u&#x3E; bad &#xD800; &#0; &#1114112; &amp;#65; fin</div>' ||
      |    '</body></html>'@@HTML_SUFFIX@@ AS html
      |  FROM documents),
      |s AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(html,
      |    '(?is)<script\b[^>]*>.*?</script[^>]*>', ' ', 'g'),
      |    '(?is)<style\b[^>]*>.*?</style[^>]*>', ' ', 'g'),
      |    '(?s)<!--.*?-->', ' ', 'g'),
      |    '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|blockquote|section|article|header|footer|pre|title)\b[^>]*>',
      |    chr(10), 'g'),
      |    '(?s)<[^>]*>', ' ', 'g') AS t1
      |  FROM h),
      |e0 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(
      |    replace(t1,
      |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#34;', '"'), '&#39;', chr(39)), '&apos;', chr(39)) AS t15
      |  FROM s),
      |e AS (SELECT doc_id, replace(list_reduce(list_prepend(t15,
      |    list_distinct(regexp_extract_all(t15,
      |      '&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};'))),
      |    (acc, e) -> replace(acc, e,
      |      CASE WHEN @@CP@@ >= 1 AND @@CP@@ <= 1114111
      |          AND NOT (@@CP@@ >= 55296 AND @@CP@@ <= 57343)
      |        THEN decode(from_hex(
      |          CASE WHEN @@CP@@ <= 127 THEN lpad(to_hex(@@CP@@), 2, '0')
      |          WHEN @@CP@@ <= 2047 THEN
      |            lpad(to_hex((@@CP@@ >> 6) + 192), 2, '0') ||
      |            lpad(to_hex((@@CP@@ & 63) + 128), 2, '0')
      |          WHEN @@CP@@ <= 65535 THEN
      |            lpad(to_hex((@@CP@@ >> 12) + 224), 2, '0') ||
      |            lpad(to_hex(((@@CP@@ >> 6) & 63) + 128), 2, '0') ||
      |            lpad(to_hex((@@CP@@ & 63) + 128), 2, '0')
      |          ELSE
      |            lpad(to_hex((@@CP@@ >> 18) + 240), 2, '0') ||
      |            lpad(to_hex(((@@CP@@ >> 12) & 63) + 128), 2, '0') ||
      |            lpad(to_hex(((@@CP@@ >> 6) & 63) + 128), 2, '0') ||
      |            lpad(to_hex((@@CP@@ & 63) + 128), 2, '0') END))
      |        ELSE e END)),
      |    '&amp;', '&') AS t2
      |  FROM e0),
      |b AS (SELECT doc_id,
      |    list_filter(list_transform(string_split(t2, chr(10)),
      |      x -> trim(regexp_replace(x, '\s+', ' ', 'g'))),
      |      x -> x <> '') AS blocks
      |  FROM e)
      |""".stripMargin
      .replace("@@CP@@",
        "(CASE WHEN lower(substr(e, 3, 1)) = 'x' THEN " +
          "list_sum(list_transform(range(length(e) - 4), i -> " +
          "(strpos('0123456789abcdef', substr(lower(e), (4 + i)::INT, 1)) - 1)::BIGINT " +
          "* (1::BIGINT << (4 * (length(e) - 5 - i))::INT)))::BIGINT " +
          "ELSE substr(e, 3, (length(e) - 3)::INT)::BIGINT END)")
      .replace("@@HTML_SUFFIX@@", htmlSuffix)

  /** Shared oracle fragments for the unigram-LM queries (q124/q125):
    * the seed vocabulary and each hard-EM round's Viterbi DP unrolled
    * position by position (12 chained CTEs per round — the word-length
    * cap), each step the identical candidate-extension + argmax-window
    * rule the Spark DP runs, with the exact floor-log2 scores
    * `(length(bin(cnt)) - 1)` on both sides.
    */
  private def unigramDpCtes(r: Int, vocabCte: String): String = {
    val score = s"s$r AS MATERIALIZED (SELECT piece, (length(bin(cnt)) - 1) - " +
      s"(SELECT length(bin(sum(cnt))) - 1 FROM $vocabCte) AS sc FROM $vocabCte)"
    val d0 = s"d${r}_0 AS MATERIALIZED (SELECT word, 0 AS pos, 0::BIGINT AS score, " +
      "0::BIGINT AS np, '' AS path FROM uwords WHERE length(word) <= 12)"
    val steps = (1 to 12).map { p =>
      val branches = (1 to math.min(4, p)).map { k =>
        s"SELECT d.word, $p AS pos, d.score + s.sc AS score, d.np + 1 AS np, " +
          s"d.path || ' ' || substr(d.word, ${p - k + 1}, $k) AS path " +
          s"FROM d${r}_${p - k} d JOIN s$r s ON s.piece = substr(d.word, ${p - k + 1}, $k) " +
          s"WHERE length(d.word) >= $p"
      }.mkString(" UNION ALL ")
      s"d${r}_$p AS MATERIALIZED (SELECT word, pos, score, np, path FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY word " +
        "ORDER BY score DESC, np ASC, path ASC) AS rn " +
        s"FROM ($branches) c) q WHERE rn = 1)"
    }
    val segUnion = (1 to 12).map(p => s"SELECT * FROM d${r}_$p").mkString(" UNION ALL ")
    val seg = s"seg$r AS MATERIALIZED (SELECT word, ltrim(path) AS path, np FROM ($segUnion) u " +
      "WHERE pos = length(word))"
    (Seq(score, d0) ++ steps :+ seg).mkString(",\n")
  }

  /** One EM round's M-step + prune (counts from the round's
    * segmentation, multi-char pieces below 2 drop, single chars floor
    * at 1).
    */
  private def unigramMStep(r: Int, vocabCte: String): String =
    s"c$r AS MATERIALIZED (SELECT piece, sum(freq)::BIGINT AS cnt FROM (" +
      s"SELECT w.freq, unnest(string_split(g.path, ' ')) AS piece " +
      s"FROM seg$r g JOIN uwords w USING (word)) q GROUP BY piece),\n" +
      s"v${r + 1} AS MATERIALIZED (SELECT piece, cnt FROM c$r WHERE length(piece) >= 2 AND cnt >= 2 " +
      s"UNION ALL SELECT v.piece, greatest(coalesce(c.cnt, 0), 1)::BIGINT AS cnt " +
      s"FROM (SELECT piece FROM $vocabCte WHERE length(piece) = 1) v " +
      s"LEFT JOIN c$r c USING (piece))"

  /** Base word-frequency + seed-vocabulary CTEs and the 2-round training
    * chain — shared verbatim by the q124 and q125 oracles.
    */
  private def unigramTrainCtes: String =
    """uwords AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents WHERE lang = 'en') w GROUP BY word),
      |p0 AS MATERIALIZED (SELECT substr(word, (i + 1)::INT, (l + 1)::INT) AS piece,
      |    sum(freq)::BIGINT AS cnt
      |  FROM uwords, unnest(range(length(word))) t(i), unnest(range(4)) u(l)
      |  WHERE length(word) <= 12 AND i + l + 1 <= length(word) GROUP BY 1),
      |v1 AS MATERIALIZED (SELECT piece, cnt FROM p0
      |  WHERE length(piece) = 1 OR cnt >= 2),""".stripMargin + "\n" +
      unigramDpCtes(1, "v1") + ",\n" + unigramMStep(1, "v1") + ",\n" +
      unigramDpCtes(2, "v2") + ",\n" + unigramMStep(2, "v2")

  def oracleSql: Map[String, String] = Map(
    // unigram-LM training (q124): the full seed -> EM x2 chain replayed,
    // final vocab top-40 by (count desc, piece) with integer log scores
    "q124_unigram_train" ->
      (s"WITH $unigramTrainCtes\n" +
        """SELECT row_number() OVER (ORDER BY cnt DESC, piece ASC)::BIGINT AS rk,
          |  piece, cnt,
          |  ((length(bin(cnt)) - 1) -
          |   (SELECT length(bin(sum(cnt))) - 1 FROM v3))::BIGINT AS score
          |FROM v3 ORDER BY cnt DESC, piece LIMIT 40""".stripMargin),
    // unigram-LM apply (q125): Viterbi segmentation of every en document
    // under the trained vocab — per-doc word/piece counts + ordered
    // segmentation digest; words past the cap pass through as OOV pieces
    "q125_unigram_apply" ->
      (s"WITH $unigramTrainCtes,\n" + unigramDpCtes(3, "v3") + ",\n" +
        """sega AS MATERIALIZED (SELECT word, path, np FROM seg3
          |  UNION ALL SELECT word, word AS path, 1::BIGINT AS np
          |  FROM uwords WHERE length(word) > 12),
          |docw AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
          |  FROM documents WHERE lang = 'en'),
          |dw AS (SELECT doc_id, i + 1 AS wpos, ws[(i + 1)::INT] AS word
          |  FROM docw, unnest(range(len(ws))) t(i))
          |SELECT d.doc_id, count(*)::BIGINT AS n_words, sum(g.np)::BIGINT AS n_pieces,
          |  md5(array_to_string(list(g.path ORDER BY d.wpos), ' | ')) AS seg_digest
          |FROM dw d JOIN sega g USING (word)
          |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) / count(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
        |  l_extendedprice AS price, l_returnflag AS rflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount >= 0.05 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice, o_orderstatus
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,
    "q4_window_latest" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value FROM ranked WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q5_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q6_json_extract" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  cast(json_extract_string(props, '$.k') AS bigint) AS k_num,
        |  epoch_us(ts) AS ts_us
        |FROM events
        |WHERE cast(json_extract_string(props, '$.k') AS bigint) >= 50
        |ORDER BY event_id""".stripMargin,
    "q7_json_build" ->
      """SELECT event_id,
        |  to_json(struct_pack(event_id := event_id, event_type := event_type, user_id := user_id))::varchar AS payload
        |FROM events WHERE event_type = 'signup'
        |ORDER BY event_id""".stripMargin,
    "q8_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q9_multi_join" ->
      """SELECT r_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))) AS double) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q10_ranked_cte" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id, value, rn FROM ranked WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin,
    "q11_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q12_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q13_argmax" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id) AS max_ts_us
        |  FROM events)
        |SELECT user_id, event_id, event_type, value, max_ts_us
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q14_encode" ->
      """SELECT n_nationkey, hex(encode(n_name)) AS name_hex
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q15_time_bucket" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
        |  count(*) AS n, cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // Session-merge semantics (D2/D3): replace-latest == window top-1 by
    // (ts, event_id); __start__ append-dedup-by-ts == first event per
    // (session, task, ts). Events fold in ascending (ts, event_id) order.
    "q16_session_merge" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN '__start__' ELSE event_type END AS task_id,
        |    event_id, epoch_us(ts) AS ts_us, props
        |  FROM events),
        |non_start AS (
        |  SELECT user_id, task_id, event_id, ts_us, props,
        |    row_number() OVER (PARTITION BY user_id, task_id ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM ev WHERE task_id <> '__start__'),
        |start_t AS (
        |  SELECT user_id, task_id, event_id, ts_us, props,
        |    row_number() OVER (PARTITION BY user_id, task_id, ts_us ORDER BY event_id) AS rn
        |  FROM ev WHERE task_id = '__start__')
        |SELECT user_id, task_id, event_id, ts_us, props AS payload FROM non_start WHERE rn = 1
        |UNION ALL
        |SELECT user_id, task_id, event_id, ts_us, props AS payload FROM start_t WHERE rn = 1
        |ORDER BY user_id, task_id, ts_us, event_id""".stripMargin,
    // The Spark side builds tagged message JSON (string content on odd ids,
    // array content on even ids), runs the polymorphic parser, and extracts
    // normalized fields; the oracle computes the same final values directly.
    "q17_message_parse" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'signup' THEN 'human'
        |       WHEN event_type = 'purchase' THEN 'ai'
        |       WHEN event_type = 'click' THEN 'tool'
        |       WHEN event_type = 'view' THEN 'system'
        |       ELSE 'function' END AS msg_type,
        |  cast(event_id AS varchar) AS msg_name,
        |  event_type AS kwargs_et,
        |  CASE WHEN event_id % 2 = 0 THEN props || '|' || event_type ELSE props END AS content_joined,
        |  CASE WHEN event_id % 2 = 0 THEN 2 ELSE 1 END AS n_content
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id_kept,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Brute-force n-gram Jaccard: sound oracle for the LSH path because the
    // banded-LSH miss probability at j>=0.9 is ~1e-9 (16 bands of 3 rows).
    "q20_minhash_neardup" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
        |ds AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  inter::double / (x.n + y.n - inter) AS jac
        |FROM pairs JOIN ds x ON x.doc_id = da JOIN ds y ON y.doc_id = db
        |WHERE inter::double / (x.n + y.n - inter) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q66's portable 32-bit vote fold, extended with the pigeonhole chunk
    // join: 4 x 8-bit chunks, distinct neighbors at hamming <= 3 per doc
    "q21_simhash" -> {
      val votes = (0 until 32).map { b =>
        s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1)" +
          s" >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
      }.mkString(",\n         |  ")
      val assemble = (0 until 32)
        .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
         |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
         |h AS (SELECT doc_id, md5(s) AS h FROM sh),
         |agg AS (SELECT doc_id, count(*) AS n_features,
         |  $votes
         |  FROM h GROUP BY doc_id),
         |f AS (SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
         |        CAST($assemble AS BIGINT) AS simhash32 FROM agg),
         |ch AS (SELECT doc_id, simhash32, ci, (simhash32 >> (ci::INT * 8)) & 255 AS cv
         |       FROM f, unnest(range(4)) AS t(ci)),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS nbr
         |       FROM ch a JOIN ch b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id <> b.doc_id
         |       WHERE bit_count(xor(a.simhash32, b.simhash32)) <= 3),
         |nn AS (SELECT doc_id, count(*) AS n_near FROM pr GROUP BY doc_id)
         |SELECT f.doc_id, f.n_features, f.simhash32,
         |  coalesce(nn.n_near, 0)::BIGINT AS n_near
         |FROM f LEFT JOIN nn USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "q19_text_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  (length(text) - (len(string_split(text, ' ')) - 1))::double
        |    / len(string_split(text, ' ')) AS avg_token_len,
        |  len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is','on')))::double
        |    / len(string_split(text, ' ')) AS stopword_ratio,
        |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::double
        |    / length(text) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q67's portable winnowing replay + the langId marker-intersection
    // argmax (ties take the lexicographically greatest lang, matching
    // Spark's struct array_max; score 0 -> 'und')
    "q22_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, greatest(length(text) - 5, 0) + 1 AS np
        |           FROM documents),
        |pos AS (SELECT doc_id, text, np, unnest(range(1, np + 1)) AS p FROM d),
        |keys AS (SELECT doc_id, np, p, md5(substr(text, p, 5)) AS h FROM pos),
        |wins AS (SELECT doc_id, np, p,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY p
        |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |  FROM keys),
        |fp AS (SELECT DISTINCT doc_id, sel FROM wins
        |       WHERE p <= greatest(np - 4, 0) + 1),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
        |        md5(string_agg(sel, '' ORDER BY sel)) AS fp_checksum
        |      FROM fp GROUP BY doc_id),
        |tok AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
        |        FROM documents),
        |ms AS (SELECT 'de' AS lang, ['der','die','das','und','ist','mit'] AS markers
        |       UNION ALL SELECT 'en', ['the','and','of','to','with','is']
        |       UNION ALL SELECT 'es', ['el','la','de','los','las','es','y']
        |       UNION ALL SELECT 'fr', ['le','la','les','des','est','et']),
        |ls AS (SELECT doc_id, lang, len(list_intersect(toks, markers)) AS score
        |       FROM tok CROSS JOIN ms),
        |best AS (SELECT doc_id, lang, score,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY score DESC, lang DESC) AS rn
        |         FROM ls),
        |lg AS (SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_guess
        |       FROM best WHERE rn = 1)
        |SELECT s.doc_id, s.n_fingerprints, s.fp_checksum, lg.lang_guess
        |FROM s JOIN lg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Exact ANN baseline; double math on both sides, rank gaps >> FP noise.
    "q23_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cos
        |      FROM q JOIN c ON vec_id <> query_id),
        |rk AS (SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |       FROM s)
        |SELECT query_id, rank, vec_id FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // the portable LSH path replayed end-to-end: int8 codes (q62's
    // quantization), integer multiply-mod planes (q72's family, 32 tables
    // x 3 bits, MSB-first key under the table index byte), bucket
    // equi-join candidates, exact cosine rank (q23's proven arithmetic).
    // recall>=0.9 vs q23 stays gated in ScalaTest.
    "q24_ann_lsh" -> {
      def bit(b: Int): String =
        "(CASE WHEN list_dot_product(codes, " +
          s"list_transform(range(64), d -> (((((t*3+$b) * 1000003) + d) % 1000000007)" +
          s" * 2654435761) % 10007 - 5003)::DOUBLE[]) > 0 THEN ${1 << (2 - b)} ELSE 0 END)"
      val key = (0 until 3).map(bit).mkString("\n         |    + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS qs FROM e),
         |qz AS (SELECT vec_id,
         |         CASE WHEN qs = 0 THEN list_transform(v, x -> 0.0)
         |              ELSE list_transform(v, x -> round(x * 127.0 / qs)::INT::DOUBLE) END
         |           AS codes
         |       FROM sc),
         |tb AS (SELECT vec_id, t * 72057594037927936 + $key AS bucket
         |       FROM qz, unnest(range(32)) AS tt(t)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |         FROM tb q JOIN tb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         |         WHERE q.vec_id % 50 = 0),
         |s AS (SELECT query_id, cand.vec_id,
         |        list_cosine_similarity(qe.v, ce.v) AS cos
         |      FROM cand JOIN e qe ON qe.vec_id = cand.query_id
         |                JOIN e ce ON ce.vec_id = cand.vec_id),
         |rk AS (SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |       FROM s)
         |SELECT query_id, rank, vec_id FROM rk WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    // q32's parity legs (q49's pattern): the pruned probe, the exhaustive
    // probe, and cross-quantizer exhaustive agreement are each pinned to
    // k=10 — exhaustive inverted-file probes are training-independent, so
    // a vector lost/duplicated/mis-assigned under either quantizer breaks
    // a count. DuckDB never needs the trained centroids.
    "q32_ann_ivf" ->
      """SELECT vec_id AS query_id, 10::BIGINT AS n_ivf, 10::BIGINT AS n_exh,
        |  10::BIGINT AS n_agree
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // q38's parity legs: the standing-index pruned probe, the standing
    // index probed exhaustively (reads every posting dir — the exact
    // top-k over whatever the index STORES), and that storage probe's
    // agreement with an exhaustive in-query probe under an independent
    // quantizer — a posting row lost or duplicated anywhere in the
    // build/publish/cache lifecycle breaks a count
    "q38_ann_ivf_indexed" ->
      """SELECT vec_id AS query_id, 10::BIGINT AS n_idx, 10::BIGINT AS n_exh,
        |  10::BIGINT AS n_agree
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // strlen (bytes), not length (chars): the payload is UTF-8 bytes
    "q25_multimodal" ->
      """SELECT doc_id AS asset_id,
        |  ['image','audio','video'][(doc_id % 3 + 1)::int] AS media_type,
        |  strlen(text) AS n_bytes,
        |  sha256(text) AS payload_sha,
        |  (16 + n_chars % 64)::int AS width,
        |  (16 + (n_chars * 7) % 64)::int AS height,
        |  ['png','wav','mp4'][(doc_id % 3 + 1)::int] AS format
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q26_frames" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id, strlen(text) AS len,
        |    ceil(strlen(text) / 4.0)::int AS chunk
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT asset_id, i AS frame_idx,
        |  greatest(0, least(chunk, len - i * chunk)) AS frame_bytes
        |FROM v, unnest(range(4)) AS t(i)
        |WHERE greatest(0, least(chunk, len - i * chunk)) > 0
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // Salted two-phase distinct == plain COUNT(DISTINCT) by construction
    // (value-hash salting partitions each key's value space disjointly).
    "q27_salted_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // video near-dup (q133): frame means from the planted (doc_id,
    // frame) arithmetic, the k=3 signature shingles, the df cap, and
    // the pair counts all replayed
    "q133_video_neardup" ->
      """WITH v AS (SELECT doc_id AS vid, doc_id - doc_id % 21 AS grp
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT vid, f,
        |    CASE WHEN f < 5 THEN (grp + 29*f) % 256
        |         ELSE (vid*9 + 31*f) % 256 END AS mb,
        |    CASE WHEN f < 5 THEN (grp*7 + 29*f) % 256
        |         ELSE (vid*11 + 31*f) % 256 END AS mg,
        |    CASE WHEN f < 5 THEN (grp*13 + 29*f) % 256
        |         ELSE (vid*17 + 31*f) % 256 END AS mr
        |  FROM v, unnest(range(8)) t(f)),
        |sq AS (SELECT vid, list(mb || ':' || mg || ':' || mr ORDER BY f) AS s
        |  FROM fr GROUP BY vid),
        |sh AS (SELECT DISTINCT vid,
        |    md5(array_to_string(s[(i + 1)::INT : (i + 3)::INT], '|')) AS sh
        |  FROM sq, unnest(range(6)) t(i)),
        |dfc AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1) q
        |  WHERE df <= 32),
        |r AS (SELECT s.vid, s.sh FROM sh s JOIN dfc USING (sh))
        |SELECT a.vid AS vid_a, b.vid AS vid_b, count(*)::BIGINT AS n_shared
        |FROM r a JOIN r b ON a.sh = b.sh AND a.vid < b.vid
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin,
    // Markdown -> text extraction (q134): the oracle REBUILDS the
    // identical synthetic markup from (doc_id, text) and replays the
    // whole rule chain — fence extraction/elision FIRST (the fence
    // carries decoy links/headings/emphasis that must reach the code
    // sha byte-exact and never the prose), image drop, backref-free
    // link unwrap, heading/quote/bullet marker strips, emphasis strips,
    // blank-line block segmentation — every pattern string shared
    // verbatim in the Java/RE2 common dialect
    "q134_markdown_extract" ->
      """WITH m AS (SELECT doc_id,
        |    '# Doc ' || doc_id ||
        |    chr(10) || chr(10) || 'Intro *fast* _path_ with [link ' || doc_id ||
        |    '](https://example.test/' || doc_id ||
        |    ') and ![img](https://example.test/i' || doc_id ||
        |    '.png) plus `inline ' || doc_id ||
        |    '` code.' || chr(10) || chr(10) || '```scala' || chr(10) ||
        |    'val x = ' || doc_id ||
        |    ' // decoy: [not](a-link) *stars* # heading' || chr(10) || '```' ||
        |    chr(10) || chr(10) || '> quoted ' || doc_id ||
        |    chr(10) || chr(10) || '- item one ' || doc_id ||
        |    chr(10) || '- item two' || chr(10) || chr(10) || text AS md
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    regexp_extract_all(md, '(?s)```[^\n]*\n(.*?)```', 1) AS code,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      replace(
        |      regexp_replace(regexp_replace(
        |      regexp_replace(md, '(?s)```[^\n]*\n(.*?)```',
        |        chr(10) || chr(10), 'g'),
        |      '!\[[^\]]*\]\([^)]*\)', ' ', 'g'),
        |      '\]\([^)]*\)', ' ', 'g'),
        |      '[', ''),
        |      '(?m)^#{1,6} ', '', 'g'),
        |      '(?m)^> ', '', 'g'),
        |      '(?m)^[-+*] ', '', 'g') AS p7
        |  FROM m),
        |e AS (SELECT doc_id, code,
        |    replace(replace(replace(p7, '*', ''), '_', ''), '`', '') AS p8
        |  FROM s),
        |b AS (SELECT doc_id, code,
        |    list_filter(list_transform(regexp_split_to_array(p8, '\n{2,}'),
        |      x -> trim(regexp_replace(x, '\s+', ' ', 'g'))),
        |      x -> x <> '') AS blocks
        |  FROM e)
        |SELECT doc_id, len(blocks)::BIGINT AS n_blocks,
        |  length(array_to_string(blocks, chr(10)))::BIGINT AS n_chars,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha,
        |  blocks[1] AS first_block,
        |  len(code)::BIGINT AS n_code,
        |  sha256(array_to_string(code, chr(10))) AS code_sha
        |FROM b ORDER BY doc_id""".stripMargin,
    // NB quality classifier (q131): train counts, the integer
    // log-ratio model, and every held-out score/verdict replayed (the
    // negative class is the word-reversed twin corpus, rebuilt in SQL)
    "q131_nb_quality" -> {
      // hashing-trick bucket: int(first 4 hex of md5(word)) % 1024 —
      // the q101 portable md5-fold discipline
      val hb = (w: String) =>
        s"((strpos('0123456789abcdef', substr(md5($w), 1, 1)) - 1) * 4096 + " +
          s"(strpos('0123456789abcdef', substr(md5($w), 2, 1)) - 1) * 256 + " +
          s"(strpos('0123456789abcdef', substr(md5($w), 3, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substr(md5($w), 4, 1)) - 1) % 1024"
      s"""WITH en AS (SELECT doc_id, lower(text) AS text FROM documents
        |  WHERE lang = 'en'),
        |tr AS (SELECT doc_id, text FROM en WHERE doc_id % 4 <> 0),
        |pos AS (SELECT unnest(string_split(text, ' ')) AS word FROM tr),
        |neg AS (SELECT reverse(w) AS word FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM tr) q),
        |cp AS (SELECT word, count(*)::BIGINT AS c_pos FROM pos GROUP BY 1),
        |cn AS (SELECT word, count(*)::BIGINT AS c_neg FROM neg GROUP BY 1),
        |model AS (SELECT coalesce(cp.word, cn.word) AS word,
        |    (length(bin(coalesce(c_pos, 0) + 1)) - 1) -
        |    (length(bin(coalesce(c_neg, 0) + 1)) - 1) AS contr
        |  FROM cp FULL OUTER JOIN cn ON cp.word = cn.word),
        |hcp AS (SELECT ${hb("word")} AS bucket, count(*)::BIGINT AS c_pos
        |  FROM pos GROUP BY 1),
        |hcn AS (SELECT ${hb("word")} AS bucket, count(*)::BIGINT AS c_neg
        |  FROM neg GROUP BY 1),
        |hmodel AS (SELECT coalesce(hcp.bucket, hcn.bucket) AS bucket,
        |    (length(bin(coalesce(c_pos, 0) + 1)) - 1) -
        |    (length(bin(coalesce(c_neg, 0) + 1)) - 1) AS hcontr
        |  FROM hcp FULL OUTER JOIN hcn ON hcp.bucket = hcn.bucket),
        |ho AS (SELECT doc_id, text FROM en WHERE doc_id % 4 = 0),
        |ev AS (SELECT doc_id, text, TRUE AS is_clean FROM ho
        |  UNION ALL
        |  SELECT doc_id + 1000000000, array_to_string(
        |    list_transform(string_split(text, ' '), w -> reverse(w)), ' '),
        |    FALSE FROM ho),
        |tok AS (SELECT e.doc_id, e.is_clean,
        |    unnest(string_split(e.text, ' ')) AS word FROM ev e)
        |SELECT t.doc_id, t.is_clean, count(*)::BIGINT AS n_tokens,
        |  sum(coalesce(m.contr, 0))::BIGINT AS score,
        |  (sum(coalesce(m.contr, 0)) > 0) AS pred,
        |  sum(coalesce(hm.hcontr, 0))::BIGINT AS hscore,
        |  (sum(coalesce(hm.hcontr, 0)) > 0) AS hpred
        |FROM tok t LEFT JOIN model m USING (word)
        |  LEFT JOIN hmodel hm ON hm.bucket = ${hb("t.word")}
        |GROUP BY t.doc_id, t.is_clean ORDER BY t.doc_id""".stripMargin
    },
    // PII scrub (q130): the planted corpus rebuilt from doc_id
    // arithmetic — including the Luhn check-digit computation, so the
    // valid/invalid card interleave is derived, not asserted — and the
    // redaction replayed as direct placeholder substitution
    "q130_pii_scrub" ->
      """WITH b AS (SELECT doc_id, text,
        |    repeat(lpad((doc_id % 100000)::VARCHAR, 5, '0'), 3) AS base15
        |  FROM documents),
        |s AS (SELECT *, list_sum(list_transform(range(1, 16), j ->
        |    CASE WHEN j % 2 = 1 THEN
        |      CASE WHEN 2 * (ascii(substr(base15, j::INT, 1)) - 48) > 9
        |        THEN 2 * (ascii(substr(base15, j::INT, 1)) - 48) - 9
        |        ELSE 2 * (ascii(substr(base15, j::INT, 1)) - 48) END
        |    ELSE ascii(substr(base15, j::INT, 1)) - 48 END)) AS sbase
        |  FROM b),
        |c AS (SELECT *, CASE WHEN doc_id % 2 = 0 THEN (10 - sbase % 10) % 10
        |    ELSE ((10 - sbase % 10) % 10 + 5) % 10 END AS chk FROM s),
        |r AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_emails,
        |    (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_phones,
        |    (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ssns,
        |    (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ips,
        |    1::BIGINT AS n_cards_total,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_cards_valid,
        |    text ||
        |    (CASE WHEN doc_id % 2 = 0 THEN ' contact [EMAIL]' ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ' call [PHONE]' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ' ssn [SSN]' ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ' ip [IP]' ELSE '' END) ||
        |    ' card ' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '[CARD]'
        |     ELSE base15 || chk::VARCHAR END) AS redacted
        |  FROM c)
        |SELECT doc_id, n_emails, n_phones, n_ssns, n_ips, n_cards_total,
        |  n_cards_valid, sha256(redacted) AS redacted_sha
        |FROM r ORDER BY doc_id""".stripMargin,
    // URL canonicalization (q129): the messy corpus rebuilt from doc_id
    // arithmetic and every normalization rule replayed — fragment drop,
    // scheme/host lowercase, default-port strip, slash/dot-segment
    // collapse, tracking-param removal, query sort — then the
    // canonical-key dedup count
    "q129_url_canonicalize" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'Example.TEST'
        |          WHEN doc_id % 3 = 1 THEN 'example.test:443'
        |          ELSE 'EXAMPLE.test' END) ||
        |    '/p//' || (doc_id % 25) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '/./' ELSE '/' END) || '?' ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN 'b=' || (doc_id % 2) || '&utm_source=x&a=' || (doc_id % 5)
        |      ELSE 'a=' || (doc_id % 5) || '&b=' || (doc_id % 2) || '&utm_campaign=y' END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '#sec' || doc_id ELSE '' END) AS url
        |  FROM documents),
        |n0 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |n1 AS (SELECT *,
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
        |    regexp_extract(nofrag, '\?([^#]*)', 1) AS rawq
        |  FROM n0),
        |n2 AS (SELECT *,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_replace(
        |      CASE WHEN rawpath = '' THEN '/' ELSE rawpath END,
        |      '/{2,}', '/', 'g'), '(/\.)+/', '/', 'g') AS path,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))), '&') AS params
        |  FROM n1),
        |c AS (SELECT doc_id, url,
        |    scheme || '://' || host || path ||
        |    (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS canon_url
        |  FROM n2)
        |SELECT doc_id, url, canon_url,
        |  (count(*) OVER (PARTITION BY canon_url))::BIGINT AS n_variants
        |FROM c ORDER BY doc_id""".stripMargin,
    // graph-ANN (q127): the q38/q120 storage-parity treatment — the
    // standing graph probe, the in-query deterministic twin, and their
    // rank-sensitive agreement, each pinned to k
    "q127_ann_graph" ->
      """SELECT vec_id AS query_id, 10::BIGINT AS n_graph, 10::BIGINT AS n_std,
        |  10::BIGINT AS n_agree
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // semantic dedup (q126): the training-independent soundness contract
    // — exact_dup replayed with the identical normalize-then-dot chain
    // (q71's sequential-IEEE argument), drop_sound pinned TRUE: an
    // unsound cluster drop (or a lost non-dup) flips it and fails the hash
    "q126_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        |  FROM e),
        |d AS (SELECT DISTINCT a.vec_id FROM n a JOIN n b ON b.vec_id < a.vec_id
        |  WHERE list_dot_product(a.nv, b.nv) >= 0.4)
        |SELECT e.vec_id, (d.vec_id IS NOT NULL) AS exact_dup,
        |  TRUE AS drop_sound
        |FROM e LEFT JOIN d USING (vec_id) ORDER BY e.vec_id""".stripMargin,
    // Pair membership only: the cosine's last ulp depends on accumulation
    // order, so the score column is deliberately excluded from comparison.
    "q28_cosine_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // Exact inverted-index Jaccard; the hashed-shingle join is exact modulo
    // a ~1e-10 cross-doc 64-bit collision (same argument as q20's verify).
    "q30_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
        |ds AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  inter::double / (x.n + y.n - inter) AS jac
        |FROM pairs JOIN ds x ON x.doc_id = da JOIN ds y ON y.doc_id = db
        |WHERE inter::double / (x.n + y.n - inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Both engines interpret this regex subset identically (Java vs RE2);
    // the CASE guards the 0-token division the same way the Spark side does.
    "q31_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
        |  CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) > 0
        |       THEN length(text)::double / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
        |       END AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Gap-based sessionization: both engines break sessions on the same
    // integer-microsecond gap and number them with a running sum over the
    // same (ts, event_id) total order; the ::bigint cast matches Spark's
    // sum-of-int type.
    "q33_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id, event_id, ts_us,
        |        CASE WHEN lag(ts_us) OVER w IS NULL
        |                  OR ts_us - lag(ts_us) OVER w > 86400000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (SELECT user_id, ts_us,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                       ROWS UNBOUNDED PRECEDING)::bigint AS session_no
        |      FROM g)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Dedup groups: the pairs CTE is q20's brute-force near-dup oracle
    // (sound stand-in for the LSH pairs at ~1e-9 miss probability); the
    // recursive closure then yields min-id connected components.
    "q36_dedup_groups" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
        |ds AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p0 AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM p0 JOIN ds x ON x.doc_id = da JOIN ds y ON y.doc_id = db
        |          WHERE inter::double / (x.n + y.n - inter) >= 0.9),
        |nodes AS (SELECT DISTINCT da AS n FROM pairs UNION SELECT DISTINCT db FROM pairs),
        |edges AS (SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs),
        |reach(s, t) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a)
        |SELECT s AS doc_id, min(t) AS group_id FROM reach GROUP BY s
        |ORDER BY doc_id""".stripMargin,
    // Repetition signal: non-distinct bigram counts; HUGEINT sums cast to
    // bigint to match Spark's sum-of-long.
    "q37_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] AS b
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM w)),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, sum(c)::bigint AS n_bigrams,
        |  max(c)::bigint AS top_bigram_count,
        |  max(c)::double / sum(c) AS top_bigram_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // As-of join oracle in plain SQL: inequality join + per-purchase
    // argmax with the same (ts DESC, event_id DESC) tie-break the Spark
    // union+window composition applies at equal timestamps.
    "q35_asof_join" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS p_event_id, p.user_id, p.ts_us AS p_ts_us,
        |  c.event_id AS c_event_id, c.ts_us AS c_ts_us
        |FROM p JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
        |QUALIFY row_number() OVER (PARTITION BY p.event_id
        |                           ORDER BY c.ts_us DESC, c.event_id DESC) = 1
        |ORDER BY p_event_id""".stripMargin,
    // Exact interpolated quantiles: Spark median/percentile and DuckDB
    // median/quantile_cont share the h=(n-1)p formula, so the doubles
    // match exactly (approx sketches would not).
    "q34_value_stats" ->
      """SELECT event_type, count(*) AS n,
        |  min(value) AS min_v, max(value) AS max_v,
        |  median(value) AS med_v, quantile_cont(value, 0.9) AS p90_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Hourly windows align to :00 in both engines (epoch and DuckDB's
    // time_bucket origin are both on the hour), so the bounds agree.
    "q29_windowed_agg" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us,
        |  epoch_us(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS we_us,
        |  event_type, count(*) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY ws_us, event_type""".stripMargin,
    // Concat-and-chunk packing: the oracle spells the SAME exclusive
    // prefix sum as one global window (fine at oracle scale); `//` is
    // DuckDB's integer division, matching Spark's `div` on longs.
    "q39_pack_chunks" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::bigint AS tok FROM documents),
        |o AS (SELECT doc_id, tok,
        |        coalesce(sum(tok) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS off
        |      FROM t)
        |SELECT doc_id, chunk_id,
        |  greatest(chunk_id * 256 - off, 0)::bigint AS begin_tok,
        |  least((chunk_id + 1) * 256 - off, tok)::bigint AS end_tok
        |FROM (SELECT doc_id, tok, off,
        |        unnest(range(off // 256, (off + tok - 1) // 256 + 1)) AS chunk_id
        |      FROM o WHERE tok > 0)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // Decontamination: 5-gram shingles (q30's shingle idiom widened to 5),
    // eval slice = every 20th doc; counts are DISTINCT shingles because
    // the shingle CTE dedups per doc on both sides.
    "q40_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 4)) AS i FROM w)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |hits AS (SELECT sh.doc_id, count(*) AS ns FROM sh JOIN ev USING (s)
        |         WHERE doc_id % 20 <> 0 GROUP BY sh.doc_id)
        |SELECT d.doc_id, coalesce(h.ns, 0)::bigint AS n_shared,
        |  coalesce(h.ns, 0) = 0 AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // deterministic multiply-mod sampling: the arithmetic is replicated
    // 1:1 (integer basis-point thresholds, id folded through % 1000000007
    // so the multiply cannot overflow int64 in either engine)
    "q41_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ((doc_id % 1000000007) * 2654435761) % 10000 <
        |  (CASE WHEN lang = 'en' THEN 8000 WHEN lang = 'zh' THEN 2500 ELSE 5000 END)
        |ORDER BY doc_id""".stripMargin,
    "q42_weighted_mix" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN lang = 'en' THEN 1 WHEN lang = 'zh' THEN 0 ELSE 1 END)
        |    + (CASE WHEN ((doc_id + 1) % 1000000007) * 2654435761 % 10000 <
        |         (CASE WHEN lang = 'en' THEN 5000 WHEN lang = 'zh' THEN 5000 ELSE 0 END)
        |       THEN 1 ELSE 0 END) AS copies
        |  FROM documents),
        |e AS (SELECT doc_id, lang, unnest(range(copies)) AS rep FROM m)
        |SELECT doc_id, lang, rep,
        |  ((doc_id + rep * 7919 + 2) % 1000000007) * 2654435761 % 1099511627776 AS mix_key
        |FROM e
        |ORDER BY mix_key, doc_id, rep""".stripMargin,
    // real-decode round trip: the Spark side ENCODES deterministic BMP/WAV
    // container bytes and DECODES them through the real codecs; the oracle
    // recomputes every header/content-derived value as pure arithmetic on
    // doc_id (constant-color fill makes the channel means exact)
    "q43_decode_features" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |  CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 16 END AS img_width,
        |  CASE WHEN doc_id % 3 = 0 THEN 8 + (doc_id * 3) % 16 END AS img_height,
        |  CASE WHEN doc_id % 3 = 0 THEN doc_id % 256 END AS mean_b,
        |  CASE WHEN doc_id % 3 = 0 THEN (doc_id * 7) % 256 END AS mean_g,
        |  CASE WHEN doc_id % 3 = 0 THEN (doc_id * 13) % 256 END AS mean_r,
        |  CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 1000 END AS wav_rate,
        |  CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2 END AS wav_channels,
        |  CASE WHEN doc_id % 3 = 1 THEN 64 + doc_id % 128 END AS wav_samples
        |FROM documents WHERE doc_id % 3 < 2
        |ORDER BY asset_id""".stripMargin,
    // PII injection is pure string arithmetic both engines build
    // identically; redaction order (emails, then IPs) is mirrored, and the
    // sha256 over the redacted text makes any single-byte divergence fail
    "q44_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE '' END AS t
        |  FROM documents),
        |r AS (SELECT doc_id, t,
        |        regexp_replace(regexp_replace(t,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS red
        |      FROM t)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  sha256(red) AS redacted_sha,
        |  length(red) AS n_chars_redacted
        |FROM r ORDER BY doc_id""".stripMargin,
    // the composed curation: quality (q19 stats, integer cross-product
    // thresholds) → near-dup canonical representatives (q20/q36 fragments
    // over the QUALITY SURVIVORS) → decontamination (q40 fragment) →
    // deterministic stratified sample (q41 arithmetic)
    "q45_curate" ->
      """WITH RECURSIVE
        |base AS (
        |  SELECT doc_id, text, lang, source,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct
        |  FROM documents WHERE doc_id % 20 <> 0),
        |q AS (SELECT * FROM base WHERE n_tokens >= 10 AND n_distinct * 100 >= n_tokens * 30),
        |w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |      WHERE doc_id IN (SELECT doc_id FROM q)),
        |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
        |ds AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |p0 AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM p0 JOIN ds x ON x.doc_id = da JOIN ds y ON y.doc_id = db
        |          WHERE inter::double / (x.n + y.n - inter) >= 0.9),
        |nodes AS (SELECT DISTINCT da AS n FROM pairs UNION SELECT DISTINCT db FROM pairs),
        |edges AS (SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs),
        |reach(s, t) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a),
        |labels AS (SELECT s AS doc_id, min(t) AS group_id FROM reach GROUP BY s),
        |dd AS (SELECT * FROM q WHERE doc_id NOT IN
        |        (SELECT doc_id FROM labels WHERE group_id < doc_id)),
        |w5 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh5 AS (SELECT DISTINCT doc_id,
        |          w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS s
        |        FROM (SELECT doc_id, w, unnest(range(len(w) - 4)) AS i FROM w5)),
        |ev AS (SELECT DISTINCT s FROM sh5 WHERE doc_id % 20 = 0),
        |contaminated AS (SELECT DISTINCT sh5.doc_id FROM sh5 JOIN ev USING (s)
        |                 WHERE doc_id % 20 <> 0),
        |clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT doc_id, lang, source, n_tokens FROM clean
        |WHERE ((doc_id % 1000000007) * 2654435761) % 10000 <
        |  (CASE WHEN lang = 'en' THEN 8000 WHEN lang = 'zh' THEN 2500 ELSE 5000 END)
        |ORDER BY doc_id""".stripMargin,
    // nearest-neighbor resample of a constant-color BMP preserves channel
    // means exactly; target dims are constants and the re-encoded payload
    // length is 54 + padded-row*height = 54 + 48*12 for 16x12 at 24 bpp
    "q46_resize" ->
      """SELECT doc_id AS asset_id,
        |  630::BIGINT AS n_bytes,
        |  16::BIGINT AS width,
        |  12::BIGINT AS height,
        |  doc_id % 256 AS mean_b,
        |  (doc_id * 7) % 256 AS mean_g,
        |  (doc_id * 13) % 256 AS mean_r
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY asset_id""".stripMargin,
    // q42's mix fragment chained into q39's prefix-sum/pack fragment over
    // the composite epoch order (mix_key, doc_id, rep)
    "q47_epoch" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN lang = 'en' THEN 1 WHEN lang = 'zh' THEN 0 ELSE 1 END)
        |    + (CASE WHEN ((doc_id + 1) % 1000000007) * 2654435761 % 10000 <
        |         (CASE WHEN lang = 'en' THEN 5000 WHEN lang = 'zh' THEN 5000 ELSE 0 END)
        |       THEN 1 ELSE 0 END) AS copies
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(range(copies)) AS rep FROM m),
        |k AS (SELECT doc_id, rep,
        |        ((doc_id + rep * 7919 + 2) % 1000000007) * 2654435761 % 1099511627776 AS mix_key
        |      FROM e),
        |t AS (SELECT k.doc_id, rep, mix_key,
        |        len(string_split(text, ' '))::bigint AS tok
        |      FROM k JOIN documents USING (doc_id)),
        |o AS (SELECT doc_id, rep, mix_key, tok,
        |        coalesce(sum(tok) OVER (ORDER BY mix_key, doc_id, rep
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS off
        |      FROM t)
        |SELECT doc_id, rep, mix_key, chunk_id,
        |  greatest(chunk_id * 256 - off, 0)::bigint AS begin_tok,
        |  least((chunk_id + 1) * 256 - off, tok)::bigint AS end_tok
        |FROM (SELECT doc_id, rep, mix_key, tok, off,
        |        unnest(range(off // 256, (off + tok - 1) // 256 + 1)) AS chunk_id
        |      FROM o WHERE tok > 0)
        |ORDER BY mix_key, doc_id, rep, chunk_id""".stripMargin,
    // the q43 real-decode argument extended to the third modality: every
    // exposed value is pure arithmetic on (doc_id, frame index) — stream
    // shape from the strf header, frame count from the movi chunk walk,
    // per-frame channel means exact under constant fills
    "q48_video_frames" ->
      """SELECT doc_id AS asset_id, f AS frame_idx,
        |  8 + doc_id % 8 AS width,
        |  6 + (doc_id * 3) % 8 AS height,
        |  2 + doc_id % 4 AS n_frames,
        |  (doc_id + 11 * f) % 256 AS mean_b,
        |  (doc_id * 7 + 17 * f) % 256 AS mean_g,
        |  (doc_id * 13 + 23 * f) % 256 AS mean_r
        |FROM (SELECT doc_id, unnest(range(2 + doc_id % 4)) AS f
        |      FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // the streaming-fed (LSM) index lifecycle vs a same-quantizer
    // monolithic probe must agree EXACTLY per query (shared centroids;
    // normalized doubles round-trip parquet losslessly), so the oracle
    // pins every count to k=10 — a lost/duplicated/mis-pruned delta row
    // anywhere in the standing-index path breaks a count. The _fold
    // columns probe the SAME index after foldIvfDeltas (compaction +
    // quantizer retrain) against a monolithic probe under the retrained
    // centroids — a vector dropped or duplicated by the fold breaks those
    "q49_ivf_stream_parity" ->
      """SELECT vec_id AS query_id, 10::BIGINT AS n_lsm, 10::BIGINT AS n_ref,
        |  10::BIGINT AS n_agree, 10::BIGINT AS n_lsm_fold,
        |  10::BIGINT AS n_ref_fold, 10::BIGINT AS n_agree_fold
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // the q46 resize argument applied to audio: tone samples, the NN
    // resample index map and the output length are all integer arithmetic
    // on (doc_id, index); 16-bit PCM round-trips floats exactly, so the
    // checksum over the decoded resampled samples is oracle-exact
    "q50_audio_resample" ->
      """WITH p AS (
        |  SELECT doc_id, 8000 + (doc_id % 8) * 1000 AS rate, 64 + doc_id % 128 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |o AS (SELECT doc_id, rate, n, n * 4000 // rate AS n_out FROM p),
        |s AS (SELECT doc_id, rate, n_out, unnest(range(n_out)) AS j FROM o),
        |v AS (SELECT doc_id, n_out,
        |        (doc_id * 31 + (j * rate // 4000) * 7) % 65536 - 32768 AS samp
        |      FROM s)
        |SELECT doc_id AS asset_id, 4000::BIGINT AS out_rate,
        |  n_out::BIGINT AS n_out, sum(samp)::BIGINT AS checksum
        |FROM v GROUP BY doc_id, n_out
        |ORDER BY asset_id""".stripMargin,
    // the bilinear kernel replayed per output coordinate: fixed-point
    // source position in units of 1/(2*dst), exact integer corner weights,
    // one floor division by (2*16)*(2*12)=768 per channel; gradient pixel
    // values are affine in (x, y) so each corner is pure arithmetic.
    // Edge rule mirrors the kernel: fraction 0 at/past the last row/col
    "q51_resize_bilinear" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id * 3) % 16 AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT doc_id, w, h, unnest(range(16)) AS ox FROM p),
        |gg AS (SELECT doc_id, w, h, ox, unnest(range(12)) AS oy FROM g),
        |t AS (SELECT doc_id, w, h,
        |        greatest((2*ox+1)*w - 16, 0) AS tx,
        |        greatest((2*oy+1)*h - 12, 0) AS ty FROM gg),
        |c AS (SELECT doc_id, w, h,
        |        least(tx // 32, w - 1) AS sx0,
        |        least(ty // 24, h - 1) AS sy0,
        |        CASE WHEN tx // 32 >= w - 1 THEN 0 ELSE tx % 32 END AS fx,
        |        CASE WHEN ty // 24 >= h - 1 THEN 0 ELSE ty % 24 END AS fy
        |      FROM t),
        |q AS (SELECT doc_id, sx0, sy0, fx, fy,
        |        least(sx0 + 1, w - 1) AS sx1,
        |        least(sy0 + 1, h - 1) AS sy1 FROM c),
        |v AS (SELECT doc_id,
        |  (((doc_id      + 5*sx0 + 11*sy0) % 256) * (32-fx) * (24-fy)
        |   + ((doc_id      + 5*sx1 + 11*sy0) % 256) * fx * (24-fy)
        |   + ((doc_id      + 5*sx0 + 11*sy1) % 256) * (32-fx) * fy
        |   + ((doc_id      + 5*sx1 + 11*sy1) % 256) * fx * fy) // 768 AS vb,
        |  (((doc_id * 7  + 5*sx0 + 11*sy0) % 256) * (32-fx) * (24-fy)
        |   + ((doc_id * 7  + 5*sx1 + 11*sy0) % 256) * fx * (24-fy)
        |   + ((doc_id * 7  + 5*sx0 + 11*sy1) % 256) * (32-fx) * fy
        |   + ((doc_id * 7  + 5*sx1 + 11*sy1) % 256) * fx * fy) // 768 AS vg,
        |  (((doc_id * 13 + 5*sx0 + 11*sy0) % 256) * (32-fx) * (24-fy)
        |   + ((doc_id * 13 + 5*sx1 + 11*sy0) % 256) * fx * (24-fy)
        |   + ((doc_id * 13 + 5*sx0 + 11*sy1) % 256) * (32-fx) * fy
        |   + ((doc_id * 13 + 5*sx1 + 11*sy1) % 256) * fx * fy) // 768 AS vr
        | FROM q)
        |SELECT doc_id AS asset_id, 16::BIGINT AS width, 12::BIGINT AS height,
        |  sum(vb)::BIGINT AS sum_b, sum(vg)::BIGINT AS sum_g, sum(vr)::BIGINT AS sum_r
        |FROM v GROUP BY doc_id
        |ORDER BY asset_id""".stripMargin,
    // q50's loop with the interpolating kernel: same frame map, exact
    // rational fraction, lerp on the biased (v+32768) domain so the floor
    // division's numerator is non-negative (engine-agnostic floor==trunc)
    "q52_audio_linear" ->
      """WITH p AS (
        |  SELECT doc_id, 8000 + (doc_id % 8) * 1000 AS rate, 64 + doc_id % 128 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |o AS (SELECT doc_id, rate, n, n * 4000 // rate AS n_out FROM p),
        |s AS (SELECT doc_id, rate, n, n_out, unnest(range(n_out)) AS j FROM o),
        |m AS (SELECT doc_id, n_out,
        |        (j * rate) // 4000 AS s0,
        |        least((j * rate) // 4000 + 1, n - 1) AS s1,
        |        (j * rate) % 4000 AS f
        |      FROM s),
        |v AS (SELECT doc_id, n_out,
        |        (((doc_id * 31 + s0 * 7) % 65536) * (4000 - f)
        |         + ((doc_id * 31 + s1 * 7) % 65536) * f) // 4000 - 32768 AS samp
        |      FROM m)
        |SELECT doc_id AS asset_id, 4000::BIGINT AS out_rate,
        |  n_out::BIGINT AS n_out, sum(samp)::BIGINT AS checksum
        |FROM v GROUP BY doc_id, n_out
        |ORDER BY asset_id""".stripMargin,
    // q48's frame oracle through the COMPRESSED path: each frame is a
    // solid fill of palette index (doc_id + 11f) % 256 and the palette
    // entry i is (i, 7i%256, 13i%256), so the decoded means are the
    // palette formula applied to the frame's index
    "q53_rle_video" ->
      """SELECT doc_id AS asset_id, f AS frame_idx,
        |  8 + doc_id % 8 AS width,
        |  6 + (doc_id * 3) % 8 AS height,
        |  2 + doc_id % 4 AS n_frames,
        |  (doc_id + 11 * f) % 256 AS mean_b,
        |  (((doc_id + 11 * f) % 256) * 7) % 256 AS mean_g,
        |  (((doc_id + 11 * f) % 256) * 13) % 256 AS mean_r
        |FROM (SELECT doc_id, unnest(range(2 + doc_id % 4)) AS f
        |      FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // exact index-rule percentiles (value at row floor((n-1)*k/100) of the
    // (n_tokens, doc_id) sort) — integers, unique picked row, hash-exact
    "q54_length_profile" ->
      """WITH t AS (SELECT lang, doc_id,
        |             len(string_split(text, ' '))::BIGINT AS n_tokens
        |           FROM documents),
        |r AS (SELECT lang, n_tokens,
        |        row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS n_docs
        |      FROM t)
        |SELECT lang, max(n_docs)::BIGINT AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 50 // 100 + 1 THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 90 // 100 + 1 THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 99 // 100 + 1 THEN n_tokens END) AS p99_tokens
        |FROM r GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // ROLLUP in one pass; keys coalesced + per-key grouping flags (no
    // NULLs, no grouping_id bit-order assumptions), q1's decimal-cast
    // aggregation discipline
    "q55_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  grouping(l_returnflag)::BIGINT AS g_rflag,
        |  grouping(l_linestatus)::BIGINT AS g_lstatus,
        |  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_rflag, g_lstatus, rflag, lstatus""".stripMargin,
    // set-operator semantics (dedup + membership) tagged into one result
    "q56_set_ops" ->
      """WITH cn AS (SELECT n_name FROM customer
        |            JOIN nation ON c_nationkey = n_nationkey),
        |sn AS (SELECT n_name FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey)
        |SELECT 'both' AS tag, n_name FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
        |UNION ALL
        |SELECT 'cust_only' AS tag, n_name FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
        |ORDER BY tag, n_name""".stripMargin,
    // q40's split and shingle construction; overlap fraction in integer
    // basis points (// is DuckDB integer division, matching Spark's div)
    // so band edges cannot float-diverge
    "q57_contamination_score" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 4)) AS i FROM w)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |tot AS (SELECT doc_id, count(*) AS nt FROM sh WHERE doc_id % 20 <> 0 GROUP BY doc_id),
        |hits AS (SELECT sh.doc_id, count(*) AS ns FROM sh JOIN ev USING (s)
        |         WHERE doc_id % 20 <> 0 GROUP BY sh.doc_id),
        |scored AS (
        |  SELECT d.doc_id,
        |    coalesce(h.ns, 0)::BIGINT AS n_shared,
        |    coalesce(t.nt, 0)::BIGINT AS n_total,
        |    CASE WHEN coalesce(t.nt, 0) > 0
        |         THEN coalesce(h.ns, 0) * 10000 // t.nt ELSE 0 END::BIGINT AS overlap_bp
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |  LEFT JOIN tot t USING (doc_id)
        |  LEFT JOIN hits h USING (doc_id))
        |SELECT doc_id, n_shared, n_total, overlap_bp,
        |  CASE WHEN overlap_bp = 0 THEN 'clean'
        |       WHEN overlap_bp < 100 THEN 'trace'
        |       WHEN overlap_bp < 1000 THEN 'partial'
        |       ELSE 'contaminated' END AS band
        |FROM scored ORDER BY doc_id""".stripMargin,
    // the deterministic (n_tokens DESC, doc_id DESC) total order makes the
    // bounded-heap result identical to the window-rank reference
    "q58_topk_per_group" ->
      """WITH t AS (SELECT lang, source, doc_id,
        |             len(string_split(text, ' '))::BIGINT AS n_tokens
        |           FROM documents),
        |r AS (SELECT lang, source, doc_id, n_tokens,
        |        row_number() OVER (PARTITION BY lang, source
        |                           ORDER BY n_tokens DESC, doc_id DESC) AS rank
        |      FROM t)
        |SELECT lang, source, rank::BIGINT AS rank, n_tokens, doc_id
        |FROM r WHERE rank <= 3
        |ORDER BY lang, source, rank""".stripMargin,
    // document frequency of 3-grams (per-doc distinct), top-3 per language
    // under the (n DESC, s DESC) total order — ASCII corpus keeps the two
    // engines' string orders identical
    "q59_frequent_ngrams" ->
      """WITH w AS (SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT lang, doc_id,
        |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM (SELECT lang, doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
        |counts AS (SELECT lang, s, count(*) AS n FROM sh GROUP BY lang, s),
        |r AS (SELECT lang, s, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, s DESC) AS rank
        |      FROM counts)
        |SELECT lang, rank::BIGINT AS rank, n, s FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin,
    // q41's overflow-safe multiply-mod key (salt 7), largest-20-keys per
    // group; ties impossible to matter (key collisions break by doc_id in
    // both engines)
    "q60_uniform_group_sample" ->
      """WITH keyed AS (SELECT lang, source, doc_id,
        |    ((doc_id % 1000000007 + 7) % 1000000007) * 2654435761 % 999999937 AS skey
        |  FROM documents),
        |r AS (SELECT lang, source, doc_id,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY skey DESC, doc_id DESC) AS rn
        |  FROM keyed)
        |SELECT lang, source, doc_id FROM r WHERE rn <= 20
        |ORDER BY lang, source, doc_id""".stripMargin,
    // coverage = distinct token positions under any corpus-frequent 3-gram
    // (df >= 1% of docs, integer-threshold form); coverage_bp by integer
    // division — every column an exact integer
    "q61_boilerplate_coverage" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, len(w)::BIGINT AS n_tokens, w FROM docs),
        |sh AS (SELECT doc_id, i AS pos, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM tok, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
        |freq AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s)
        |         WHERE df * 10000 >= (SELECT count(*) FROM documents) * 100),
        |cov AS (SELECT DISTINCT sh.doc_id, sh.pos + d AS cp
        |        FROM sh JOIN freq USING (s), unnest(range(3)) AS u(d)),
        |cc AS (SELECT doc_id, count(*)::BIGINT AS covered_tokens FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tokens,
        |  coalesce(cc.covered_tokens, 0)::BIGINT AS covered_tokens,
        |  (coalesce(cc.covered_tokens, 0) * 10000 // t.n_tokens)::BIGINT AS coverage_bp,
        |  (CASE WHEN coalesce(cc.covered_tokens, 0) * 10000 // t.n_tokens >= 3000
        |        THEN 1 ELSE 0 END)::INT AS flag_boilerplate
        |FROM tok t LEFT JOIN cc USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // int8 symmetric quantization (q = round(v*127/max|v|)) replayed
    // exactly; scores stay integer (qdot, qs2 < 2^53) so the double
    // ranking key qdot/sqrt(qs2*qs2q) is bit-deterministic in both engines
    "q62_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS qs FROM e),
        |qz AS (SELECT vec_id,
        |         list_transform(v, x -> CASE WHEN qs = 0 THEN 0
        |                                     ELSE round(x * 127.0 / qs)::INT END) AS qv
        |       FROM sc),
        |ss AS (SELECT vec_id, qv,
        |         list_dot_product(qv::DOUBLE[], qv::DOUBLE[])::BIGINT AS s2 FROM qz),
        |q AS (SELECT vec_id AS query_id, qv AS qqv, s2 AS s2q FROM ss WHERE vec_id % 50 = 0),
        |p AS (SELECT query_id, ss.vec_id AS vec_id,
        |        list_dot_product(ss.qv::DOUBLE[], qqv::DOUBLE[])::BIGINT AS qdot,
        |        s2, s2q
        |      FROM ss JOIN q ON ss.vec_id <> query_id),
        |rk AS (SELECT query_id, vec_id, qdot,
        |         row_number() OVER (PARTITION BY query_id
        |            ORDER BY qdot / sqrt((s2 * s2q)::DOUBLE) DESC, vec_id) AS rank
        |       FROM p)
        |SELECT query_id, rank::BIGINT AS rank, vec_id, qdot FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // the Bloom two-phase path answers EXACTLY q40's question — the prune
    // is a pure accelerator, the confirm restores exactness — so the
    // oracle is q40's SQL verbatim
    "q63_decontaminate_bloom" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS s
        |       FROM (SELECT doc_id, w, unnest(range(len(w) - 4)) AS i FROM w)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |hits AS (SELECT sh.doc_id, count(*) AS ns FROM sh JOIN ev USING (s)
        |         WHERE doc_id % 20 <> 0 GROUP BY sh.doc_id)
        |SELECT d.doc_id, coalesce(h.ns, 0)::bigint AS n_shared,
        |  coalesce(h.ns, 0) = 0 AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // vocab = top-16 tokens by corpus occurrence count, ties by token
    // string (both engines); OOV rate in integer basis points
    "q64_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |             FROM documents),
        |cnt AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |voc AS (SELECT tok FROM (
        |          SELECT tok, row_number() OVER (ORDER BY n DESC, tok DESC) AS r
        |          FROM cnt) WHERE r <= 16),
        |oov AS (SELECT doc_id, count(*) AS n_oov
        |        FROM tok ANTI JOIN voc USING (tok) GROUP BY doc_id),
        |d AS (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS n_tokens
        |      FROM documents)
        |SELECT d.doc_id, d.n_tokens, coalesce(o.n_oov, 0)::BIGINT AS n_oov,
        |  (coalesce(o.n_oov, 0) * 10000 // d.n_tokens)::BIGINT AS oov_bp
        |FROM d LEFT JOIN oov o USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Portable-hash signature twins (q65–q67): md5 is a byte-exact
    // published standard both engines implement over UTF-8, so the
    // signature VALUES themselves are recomputed by the oracle. Since
    // round 12 the registered q21/q22/q24 surfaces run on the same
    // portable base hash (oracle-green); these remain as the focused
    // signature-only replays the specs cross-check against.
    "q65_minhash_replay" -> {
      val mins = (0 until 12)
        .map(i => s"min(md5('$i:' || s)) AS m$i").mkString(", ")
      val digest = (0 until 12).map(i => s"m$i").mkString(" || ")
      val bands = (0 until 4)
        .map(j => s"md5('$j|' || m${3 * j} || m${3 * j + 1} || m${3 * j + 2}) AS band_$j")
        .mkString(", ")
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
         |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
         |sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)
         |SELECT doc_id, md5($digest) AS sig_digest, $bands
         |FROM sigs ORDER BY doc_id""".stripMargin
    },
    "q66_simhash_replay" -> {
      val votes = (0 until 32).map { b =>
        s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1)" +
          s" >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
      }.mkString(",\n         |  ")
      val assemble = (0 until 32)
        .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
         |       FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w)),
         |h AS (SELECT doc_id, md5(s) AS h FROM sh),
         |agg AS (SELECT doc_id, count(*) AS n_features,
         |  $votes
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
         |  CAST($assemble AS BIGINT) AS simhash32
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "q67_winnow_replay" ->
      """WITH d AS (SELECT doc_id, text, greatest(length(text) - 5, 0) + 1 AS np
        |           FROM documents),
        |pos AS (SELECT doc_id, text, np, unnest(range(1, np + 1)) AS p FROM d),
        |keys AS (SELECT doc_id, np, p, md5(substr(text, p, 5)) AS h FROM pos),
        |wins AS (SELECT doc_id, np, p,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY p
        |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |  FROM keys),
        |fp AS (SELECT DISTINCT doc_id, sel FROM wins
        |       WHERE p <= greatest(np - 4, 0) + 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |  md5(string_agg(sel, '' ORDER BY sel)) AS fp_digest
        |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the IVF-SQ8 index probed exhaustively (nprobe = K) must equal the
    // brute-force quantized ranking — the cid layout is pure storage at
    // nprobe = K — so the oracle is q62's SQL verbatim (q63/q40 pattern)
    "q68_ivf_sq8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS qs FROM e),
        |qz AS (SELECT vec_id,
        |         list_transform(v, x -> CASE WHEN qs = 0 THEN 0
        |                                     ELSE round(x * 127.0 / qs)::INT END) AS qv
        |       FROM sc),
        |ss AS (SELECT vec_id, qv,
        |         list_dot_product(qv::DOUBLE[], qv::DOUBLE[])::BIGINT AS s2 FROM qz),
        |q AS (SELECT vec_id AS query_id, qv AS qqv, s2 AS s2q FROM ss WHERE vec_id % 50 = 0),
        |p AS (SELECT query_id, ss.vec_id AS vec_id,
        |        list_dot_product(ss.qv::DOUBLE[], qqv::DOUBLE[])::BIGINT AS qdot,
        |        s2, s2q
        |      FROM ss JOIN q ON ss.vec_id <> query_id),
        |rk AS (SELECT query_id, vec_id, qdot,
        |         row_number() OVER (PARTITION BY query_id
        |            ORDER BY qdot / sqrt((s2 * s2q)::DOUBLE) DESC, vec_id) AS rank
        |       FROM p)
        |SELECT query_id, rank::BIGINT AS rank, vec_id, qdot FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // real WebP VP8L decode (prefix codes + subtract-green + LZ77 row
    // copies): dims and exact per-channel sums of the column gradient —
    // q69's discipline for the lossless-WebP container
    "q123_webp_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 16)::BIGINT AS width,
        |    (8 + (doc_id * 3) % 16)::BIGINT AS height
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT asset_id, width, height,
        |  (height * list_sum(list_transform(range(width),
        |     x -> (asset_id * 3 + 4 * x) % 256)))::BIGINT AS sum_b,
        |  (height * list_sum(list_transform(range(width),
        |     x -> (asset_id * 7 + x) % 256)))::BIGINT AS sum_g,
        |  (height * list_sum(list_transform(range(width),
        |     x -> (asset_id * 2 + 5 * x) % 256)))::BIGINT AS sum_r
        |FROM d ORDER BY asset_id""".stripMargin,
    // real PNG decode (deflate + unfilter): dims and exact per-channel
    // pixel sums of the column-gradient fill, pure integer arithmetic
    "q69_png_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 16)::BIGINT AS width,
        |    (8 + (doc_id * 3) % 16)::BIGINT AS height
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT asset_id, width, height,
        |  (height * list_sum(list_transform(range(width),
        |     x -> (asset_id * 11 + 3 * x) % 256)))::BIGINT AS sum_b,
        |  (height * list_sum(list_transform(range(width),
        |     x -> (asset_id * 5 + 2 * x) % 256)))::BIGINT AS sum_g,
        |  (height * list_sum(list_transform(range(width),
        |     x -> (asset_id + x) % 256)))::BIGINT AS sum_r
        |FROM d ORDER BY asset_id""".stripMargin,
    // q61's frequent-shingle algebra turned into removal: covered token
    // positions drop, the remainder reassembles in order, and the redacted
    // text is pinned by its sha256
    "q70_strip_boilerplate" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, len(w)::BIGINT AS n_tokens, w FROM docs),
        |sh AS (SELECT doc_id, i AS pos, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM tok, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
        |freq AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s)
        |         WHERE df * 10000 >= (SELECT count(*) FROM documents) * 100),
        |cov AS (SELECT DISTINCT sh.doc_id, sh.pos + d AS cp
        |        FROM sh JOIN freq USING (s), unnest(range(3)) AS u(d)),
        |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tokens,
        |  coalesce(len(cl.cps), 0)::BIGINT AS removed_tokens,
        |  sha256(array_to_string(
        |    list_transform(
        |      list_filter(range(len(t.w)),
        |                  i -> cl.cps IS NULL OR NOT list_contains(cl.cps, i)),
        |      i -> t.w[i + 1]), ' ')) AS kept_sha
        |FROM tok t LEFT JOIN cl USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // the exhaustive (nprobe = K) guard is training-independent: flags are
    // a pure function of arrival order, recomputed here pair-by-pair with
    // the same normalize-then-dot sequential IEEE arithmetic
    "q71_embed_guard_parity" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE vec_id % 5 = 0),
        |n AS (SELECT vec_id, vec_id % 3 AS b,
        |        list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        |      FROM e),
        |p AS (SELECT a.vec_id AS vec_id, c.vec_id AS dup_of,
        |        list_dot_product(a.nv, c.nv) AS cos
        |      FROM n a JOIN n c
        |        ON (c.b < a.b OR (c.b = a.b AND c.vec_id < a.vec_id))),
        |f AS (SELECT vec_id, dup_of, cos,
        |        row_number() OVER (PARTITION BY vec_id
        |                           ORDER BY cos DESC, dup_of) AS rn
        |      FROM p WHERE cos >= 0.25)
        |SELECT vec_id, dup_of, cos FROM f WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    // the CountHistogram native aggregate answers EXACTLY q54's question
    // (histogram + cumulative exact index-rule percentiles), so its
    // oracle is q54's SQL verbatim (q63/q40, q68/q62 pattern)
    "q73_length_profile_agg" ->
      """WITH t AS (SELECT lang, doc_id,
        |             len(string_split(text, ' '))::BIGINT AS n_tokens
        |           FROM documents),
        |r AS (SELECT lang, n_tokens,
        |        row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS n_docs
        |      FROM t)
        |SELECT lang, max(n_docs)::BIGINT AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 50 // 100 + 1 THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 90 // 100 + 1 THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 99 // 100 + 1 THEN n_tokens END) AS p99_tokens
        |FROM r GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // Gopher-style quality rules: every column an exact integer (x100 /
    // bp / counts via integer DIV), the keep verdict composed from them
    "q75_gopher_quality" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |  len(w)::BIGINT AS n_words,
        |  (list_sum(list_transform(w, x -> length(x))) * 100 // len(w))::BIGINT
        |    AS mean_word_len_x100,
        |  (len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 10000 // len(w))::BIGINT
        |    AS alpha_word_bp,
        |  len(list_intersect(list_distinct(w),
        |      ['the','a','of','and','to','in','is','on']))::BIGINT AS n_stop_kinds
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len_x100, alpha_word_bp, n_stop_kinds,
        |  (CASE WHEN n_words BETWEEN 40 AND 100000
        |         AND mean_word_len_x100 BETWEEN 300 AND 1000
        |         AND alpha_word_bp >= 8000
        |         AND n_stop_kinds >= 2 THEN 1 ELSE 0 END)::INT AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // within-document duplicate-3-gram occurrence fraction in basis points
    "q76_dup_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM (SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i
        |             FROM t)),
        |c AS (SELECT doc_id, s, count(*) AS n FROM sh GROUP BY doc_id, s),
        |a AS (SELECT doc_id, sum(n)::BIGINT AS n_grams,
        |        coalesce(sum(n) FILTER (n > 1), 0)::BIGINT AS dup_occurrences
        |      FROM c GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(a.dup_occurrences, 0)::BIGINT AS dup_occurrences,
        |  (CASE WHEN coalesce(a.n_grams, 0) > 0
        |        THEN coalesce(a.dup_occurrences, 0) * 10000 // a.n_grams
        |        ELSE 0 END)::BIGINT AS dup_bp
        |FROM t LEFT JOIN a USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // grayscale PNG decode: 2-D gray gradient, exact pixel sum as
    // doc_id arithmetic (q69's discipline for color type 0)
    "q78_gray_png_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 16)::BIGINT AS width,
        |    (8 + (doc_id * 3) % 16)::BIGINT AS height
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT asset_id, width, height,
        |  (list_sum(flatten(list_transform(range(height), y ->
        |     list_transform(range(width), x ->
        |       (asset_id * 7 + 3 * x + 5 * y) % 256)))))::BIGINT AS sum_gray
        |FROM d ORDER BY asset_id""".stripMargin,
    // round-11 composition: gopher gate -> span strip (frequent set
    // learned on the kept corpus) -> exact profile of cleaned lengths;
    // the oracle chains the verified fragments (q45's discipline)
    "q77_clean_profile" ->
      """WITH t0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |  len(w)::BIGINT AS n_words,
        |  (list_sum(list_transform(w, x -> length(x))) * 100 // len(w))::BIGINT AS mwl,
        |  (len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 10000 // len(w))::BIGINT AS awb,
        |  len(list_intersect(list_distinct(w),
        |      ['the','a','of','and','to','in','is','on']))::BIGINT AS nsk
        |  FROM t0),
        |keep AS (SELECT doc_id FROM m
        |         WHERE n_words BETWEEN 40 AND 100000 AND mwl BETWEEN 300 AND 1000
        |           AND awb >= 8000 AND nsk >= 2),
        |tok AS (SELECT t0.doc_id, len(w)::BIGINT AS n_tokens, w
        |        FROM t0 JOIN keep USING (doc_id)),
        |sh AS (SELECT doc_id, i AS pos, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
        |       FROM tok, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
        |freq AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s)
        |         WHERE df * 10000 >= (SELECT count(*) FROM keep) * 100),
        |cov AS (SELECT DISTINCT sh.doc_id, sh.pos + d AS cp
        |        FROM sh JOIN freq USING (s), unnest(range(3)) AS u(d)),
        |cc AS (SELECT doc_id, count(*)::BIGINT AS removed FROM cov GROUP BY doc_id),
        |k AS (SELECT t.doc_id, d.lang, t.n_tokens - coalesce(cc.removed, 0) AS kt
        |      FROM tok t JOIN documents d USING (doc_id) LEFT JOIN cc USING (doc_id)),
        |r AS (SELECT lang, doc_id, kt,
        |        row_number() OVER (PARTITION BY lang ORDER BY kt, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS n_docs
        |      FROM k)
        |SELECT lang, max(n_docs)::BIGINT AS n_docs,
        |  min(kt) AS min_tokens, max(kt) AS max_tokens, sum(kt)::BIGINT AS total_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 50 // 100 + 1 THEN kt END) AS p50_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 90 // 100 + 1 THEN kt END) AS p90_tokens,
        |  max(CASE WHEN rn = (n_docs - 1) * 99 // 100 + 1 THEN kt END) AS p99_tokens
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // winnow-bucketed span-duplication candidates: the portable md5
    // winnow (q67's algebra at k=20, w=8) + df cap + pair counts, all
    // exact integer/string arithmetic
    "q74_span_candidates" ->
      """WITH d AS (SELECT doc_id, text, greatest(length(text) - 20, 0) + 1 AS np
        |           FROM documents),
        |pos AS (SELECT doc_id, text, np, unnest(range(1, np + 1)) AS p FROM d),
        |keys AS (SELECT doc_id, np, p, md5(substr(text, p, 20)) AS h FROM pos),
        |wins AS (SELECT doc_id, np, p,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY p
        |               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel
        |  FROM keys),
        |fp AS (SELECT DISTINCT doc_id, sel FROM wins
        |       WHERE p <= greatest(np - 8, 0) + 1),
        |dfc AS (SELECT sel, count(*) AS df FROM fp GROUP BY sel),
        |rare AS (SELECT fp.doc_id, fp.sel FROM fp JOIN dfc USING (sel)
        |         WHERE df <= 32),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            count(*) AS n_shared
        |          FROM rare a JOIN rare b
        |            ON a.sel = b.sel AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q74's pair CTEs + the seed-and-extend replay: every cross-document
    // k-gram match projected onto its alignment diagonal, consecutive
    // positions merged into maximal runs (gaps-and-islands), extents and
    // the sha256 of each extracted span recomputed verbatim
    "q79_span_extract" ->
      """WITH d AS (SELECT doc_id, text, greatest(length(text) - 20, 0) + 1 AS np
        |           FROM documents),
        |pos AS (SELECT doc_id, text, np, unnest(range(1, np + 1)) AS p FROM d),
        |keys AS (SELECT doc_id, np, p, md5(substr(text, p, 20)) AS h FROM pos),
        |wins AS (SELECT doc_id, np, p,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY p
        |               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel
        |  FROM keys),
        |fp AS (SELECT DISTINCT doc_id, sel FROM wins
        |       WHERE p <= greatest(np - 8, 0) + 1),
        |dfc AS (SELECT sel, count(*) AS df FROM fp GROUP BY sel),
        |rare AS (SELECT fp.doc_id, fp.sel FROM fp JOIN dfc USING (sel)
        |         WHERE df <= 32),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM rare a JOIN rare b
        |            ON a.sel = b.sel AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |sdocs AS (SELECT doc_a AS doc_id FROM pairs
        |          UNION SELECT doc_b FROM pairs),
        |gk AS (SELECT k.doc_id, k.p, k.h FROM keys k JOIN sdocs USING (doc_id)),
        |hdf AS (SELECT h, count(*) AS hdf FROM gk GROUP BY h),
        |gkr AS (SELECT gk.doc_id, gk.p, gk.h FROM gk JOIN hdf USING (h)
        |        WHERE hdf <= 256),
        |m AS (SELECT pr.doc_a, pr.doc_b, ka.p AS ia, kb.p - ka.p AS diag
        |      FROM pairs pr
        |      JOIN gkr ka ON ka.doc_id = pr.doc_a
        |      JOIN gkr kb ON kb.doc_id = pr.doc_b AND kb.h = ka.h),
        |isl AS (SELECT doc_a, doc_b, diag, ia,
        |          ia - row_number() OVER (PARTITION BY doc_a, doc_b, diag
        |                                  ORDER BY ia) AS island
        |        FROM m),
        |sp AS (SELECT doc_a, doc_b, diag, island, min(ia) AS start_a,
        |         max(ia) - min(ia) + 20 AS len
        |       FROM isl GROUP BY 1, 2, 3, 4)
        |SELECT sp.doc_a, sp.doc_b,
        |  CAST(start_a AS BIGINT) AS start_a,
        |  CAST(start_a + diag AS BIGINT) AS start_b,
        |  CAST(len AS BIGINT) AS len,
        |  sha256(substr(d.text, start_a, len)) AS span_sha
        |FROM sp JOIN d ON d.doc_id = sp.doc_a
        |WHERE len >= 20
        |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    // BPE apply replayed merge-for-merge (the recursive-CTE fragment);
    // count + token-stream digest per document
    "q80_bpe_tokens" ->
      s"""WITH RECURSIVE
         |$bpeCtes
         |SELECT doc_id, n_bpe, tok_digest FROM bpe ORDER BY doc_id""".stripMargin,
    // q54's profile rule over REAL BPE counts
    "q81_bpe_length_profile" ->
      s"""WITH RECURSIVE
         |$bpeCtes,
         |t AS (SELECT d.lang, b.doc_id, b.n_bpe AS n_tokens
         |      FROM bpe b JOIN documents d USING (doc_id)),
         |r AS (SELECT lang, n_tokens,
         |        row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n_docs
         |      FROM t)
         |SELECT lang, max(n_docs)::BIGINT AS n_docs,
         |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  max(CASE WHEN rn = (n_docs - 1) * 50 // 100 + 1 THEN n_tokens END) AS p50_tokens,
         |  max(CASE WHEN rn = (n_docs - 1) * 90 // 100 + 1 THEN n_tokens END) AS p90_tokens,
         |  max(CASE WHEN rn = (n_docs - 1) * 99 // 100 + 1 THEN n_tokens END) AS p99_tokens
         |FROM r GROUP BY lang
         |ORDER BY lang""".stripMargin,
    // q39's chunk math budgeted by the BPE counts
    "q82_bpe_pack_chunks" ->
      s"""WITH RECURSIVE
         |$bpeCtes,
         |t AS (SELECT doc_id, n_bpe AS tok FROM bpe),
         |o AS (SELECT doc_id, tok,
         |        coalesce(sum(tok) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS off
         |      FROM t)
         |SELECT doc_id, chunk_id,
         |  greatest(chunk_id * 256 - off, 0)::bigint AS begin_tok,
         |  least((chunk_id + 1) * 256 - off, tok)::bigint AS end_tok
         |FROM (SELECT doc_id, tok, off,
         |        unnest(range(off // 256, (off + tok - 1) // 256 + 1)) AS chunk_id
         |      FROM o WHERE tok > 0)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    // portable SRP: int8 codes (sign-invariant quantization) against
    // multiply-mod integer hyperplanes — every dot ≤ 127·5003·64, exact in
    // DOUBLE arithmetic, so the packed sign-bit bucket keys hash-match
    "q72_srp_replay" -> {
      def bucket(t: Int): String = (0 until 8).map { b =>
        val p = t * 8 + b
        val plane = s"list_transform(range(64), d -> ((($p * 1000003 + d) % 1000000007)" +
          s" * 2654435761) % 10007 - 5003)"
        s"(CASE WHEN list_dot_product(qv::DOUBLE[], $plane::DOUBLE[]) > 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS qs FROM e),
         |qz AS (SELECT vec_id,
         |         list_transform(v, x -> CASE WHEN qs = 0 THEN 0
         |                                     ELSE round(x * 127.0 / qs)::INT END) AS qv
         |       FROM sc)
         |SELECT vec_id,
         |  CAST(${bucket(0)} AS BIGINT) AS bucket_0,
         |  CAST(${bucket(1)} AS BIGINT) AS bucket_1,
         |  CAST(${bucket(2)} AS BIGINT) AS bucket_2,
         |  CAST(${bucket(3)} AS BIGINT) AS bucket_3
         |FROM qz ORDER BY vec_id""".stripMargin
    },
    // baseline JPEG, grayscale: each 8x8 block decodes EXACTLY to its
    // per-block formula value (DC quant 8 is lossless for flat blocks), so
    // the decoded pixel sum is 64x the block-value sum — pure integer
    // arithmetic on doc_id, same discipline as the q69/q78 PNG oracles
    "q83_jpeg_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (2 + doc_id % 4)::BIGINT AS wb,
        |    (2 + (doc_id * 3) % 4)::BIGINT AS hb
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT asset_id, (8 * wb)::BIGINT AS width, (8 * hb)::BIGINT AS height,
        |  (64 * list_sum(flatten(list_transform(range(hb), by ->
        |     list_transform(range(wb),
        |       bx -> (asset_id * 7 + 13 * bx + 31 * by) % 256)))))::BIGINT AS sum_gray
        |FROM d ORDER BY asset_id""".stripMargin,
    // segment-level dedup with reassembly (q121): first-occurrence rule
    // replayed via the packed (doc_id, seg_idx) key (seg_idx < 1e6, so
    // packed order == the engine's struct order), kept text sha-matched
    "q121_segment_dedup" ->
      """WITH wt AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |segs AS (SELECT doc_id, i::BIGINT AS seg_idx,
        |    array_to_string(w[(i - 1) * 10 + 1 : i * 10], ' ') AS seg
        |  FROM wt, unnest(range(1, (len(w) + 9) // 10 + 1)) AS t(i)),
        |own AS (SELECT seg, min(doc_id * 1000000 + seg_idx) AS k
        |  FROM segs GROUP BY 1),
        |kept AS (SELECT s.doc_id, s.seg_idx, s.seg,
        |    CASE WHEN s.doc_id * 1000000 + s.seg_idx = o.k THEN 1 ELSE 0 END AS keep
        |  FROM segs s JOIN own o USING (seg))
        |SELECT doc_id, count(*)::BIGINT AS n_segs, sum(keep)::BIGINT AS n_kept,
        |  sha256(coalesce(array_to_string(
        |    list(seg ORDER BY seg_idx) FILTER (keep = 1), ' '), '')) AS kept_sha
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // HTML -> text extraction (q122): the oracle REBUILDS the identical
    // synthetic markup from (doc_id, text) and replays the whole rule
    // chain — comment/script/style elision (the script carries a decoy
    // <p> that surfaces as an extra block if elision fails), block-tag
    // newlines, tag stripping, entity decode (amp last), whitespace
    // normalization, empty-block drop — in the Java/RE2 common regex
    // dialect, so every pattern string is shared verbatim with Spark
    "q122_html_extract" -> (htmlExtractCtes() +
      """SELECT doc_id, len(blocks)::BIGINT AS n_blocks,
        |  length(array_to_string(blocks, chr(10)))::BIGINT AS n_chars,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha,
        |  blocks[1] AS first_block
        |FROM b ORDER BY doc_id""".stripMargin),
    // block-level main-content selection (q132): the q122 chain's blocks
    // classified by the jusText-style length + stopword-density rule
    // (integer DIV basis points) — chrome drops, prose survives, the
    // kept content pinned by its ordered sha
    "q132_main_content" -> (htmlExtractCtes() +
      """, r AS (SELECT doc_id, i + 1 AS block_idx, blocks[(i + 1)::INT] AS block
        |  FROM b, unnest(range(len(blocks))) t(i)),
        |f AS (SELECT doc_id, block_idx, block,
        |    length(block)::BIGINT AS n_chars,
        |    (len(list_filter(string_split(lower(block), ' '),
        |       t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on')))
        |     * 10000 // len(string_split(lower(block), ' ')))::BIGINT AS stop_bp
        |  FROM r)
        |SELECT doc_id, count(*)::BIGINT AS n_blocks,
        |  sum(CASE WHEN n_chars >= 40 AND stop_bp >= 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_kept,
        |  sha256(coalesce(array_to_string(
        |    list(block ORDER BY block_idx)
        |      FILTER (n_chars >= 40 AND stop_bp >= 0), chr(10)), ''))
        |    AS main_sha
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // WARC crawl front door (q128): the Spark side builds multi-record
    // WARC blobs, walks them octet-exactly, splits HTTP, extracts; the
    // oracle replays the expected output straight from (doc_id, text) —
    // the q46 encode->decode-collapse discipline: a container-walk slip
    // (miscounted Content-Length, lost record, header misparse) changes
    // rows or hashes
    "q128_warc_extract" -> (htmlExtractCtes() +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // gzip-member WARC front door (q135): the q128 contract over the
    // production Common Crawl layout — one gzip member per record, with
    // a planted non-ASCII paragraph so the UTF-8 byte round-trip (octet
    // counts != char counts) is under the hash; the oracle replays from
    // (doc_id, text) with the marker block appended — the member
    // inflate itself collapses out (encode->decode discipline)
    "q135_warc_gz_extract" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // .warc.zst archive (q185): the q135 contract over one-zstd-frame-
    // per-record archives (the ecosystem's next production shape) —
    // frame boundaries from the non-decompressing frame-size walk,
    // payloads inflated by libzstd; identical oracle, so
    // a boundary or inflate slip changes rows
    "q185_warc_zst_extract" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // dict-bearing .warc.zst (q186): the q185 contract over the
    // webrecorder production shape — shared RFC 8878 §5 dictionary in
    // a leading skippable frame, record frames that genuinely depend
    // on it (each opens with a match into the dict content and
    // declares the Dictionary_ID); identical oracle, so a slip in
    // dictionary discovery / prefix resolution / id handshake changes
    // rows
    "q186_warc_zst_dict" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // write-side .warc.zst (q195): the q186 contract, but the archives
    // were WRITTEN by libzstd against a ZDICT-trained dictionary per
    // archive group — the extraction oracle catches any writer slip,
    // and ratio_lt_60 pins that every archive genuinely compressed (a
    // regression to stored bytes flips the flag on every row)
    "q195_warc_zst_write" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha,
        |  true AS ratio_lt_60
        |FROM b ORDER BY doc_id""".stripMargin),
    // multistream .xml.bz2 dump (q196): the Wikipedia-dump staple —
    // shards written with commons-compress bzip2 (one stream per
    // 10-page batch, streams concatenated), walked stream-at-a-time;
    // title/text
    // recovered through the XML entity round-trip. The oracle replays
    // the stream ordinal with the same row_number arithmetic and the
    // text sha from documents directly.
    "q196_dump_multistream" ->
      """SELECT doc_id, 'Doc ' || doc_id AS title,
        |  ((row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
        |     - 1) // 10)::BIGINT AS stream_idx,
        |  'ok' AS status,
        |  sha256(text) AS text_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // .jsonl.lz4 dataset shards (q197): one LZ4 frame per shard of
    // JSON lines, written and walked with commons-compress; JSON
    // escaping round-trips
    // Spark-side so the oracle replays ordinals and shas directly
    "q197_lz4_shard" ->
      """SELECT doc_id,
        |  (row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
        |     - 1)::BIGINT AS line_idx,
        |  'ok' AS status,
        |  sha256(text) AS text_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // FIM objective prep (q198): deterministic quarter-mark
    // prefix/middle/suffix splits emitted in both PSM and SPM sentinel
    // orders; DuckDB rebuilds both strings from list_slice arithmetic
    "q198_fim_objective" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, ws, len(ws)::INT AS n,
        |    (len(ws) // 4)::INT AS p1,
        |    ((len(ws) * 3) // 4)::INT AS p2 FROM t),
        |s AS (SELECT doc_id, n, p1, p2,
        |    array_to_string(list_slice(ws, 1, p1), ' ') AS pre,
        |    array_to_string(list_slice(ws, p1 + 1, p2), ' ') AS mid,
        |    array_to_string(list_slice(ws, p2 + 1, n), ' ') AS suf
        |  FROM d)
        |SELECT doc_id, n::BIGINT AS n_tokens, p1::BIGINT AS n_prefix,
        |  (p2 - p1)::BIGINT AS n_middle, (n - p2)::BIGINT AS n_suffix,
        |  sha256('<fim_prefix> ' || pre || ' <fim_suffix> ' || suf ||
        |    ' <fim_middle> ' || mid) AS psm_sha,
        |  sha256('<fim_suffix> ' || suf || ' <fim_prefix> ' || pre ||
        |    ' <fim_middle> ' || mid) AS spm_sha
        |FROM s ORDER BY doc_id""".stripMargin,
    // PNG tRNS transparency (q199): palette alpha table, gray level
    // key, RGB color key, sequential + Adam7 — alpha surfaced per
    // pixel (not composited); every channel and alpha sum is
    // (doc_id, x, y) integer arithmetic
    "q199_png_trns" ->
      """WITH d AS (SELECT doc_id, (8 + doc_id % 9)::INT AS w,
        |    (5 + doc_id % 7)::INT AS h, (doc_id % 4)::INT AS form
        |  FROM documents),
        |px AS (SELECT d.doc_id, d.form, d.w, d.h, xx.x, yy.y,
        |    CASE WHEN d.form = 0 THEN (xx.x + yy.y + d.doc_id) % 16
        |         WHEN d.form = 3 THEN (xx.x * 2 + yy.y + d.doc_id) % 16
        |         ELSE 0 END AS idx,
        |    (xx.x * 3 + yy.y * 5 + d.doc_id) % 256 AS glvl
        |  FROM d, unnest(range(d.w)) AS xx(x), unnest(range(d.h)) AS yy(y)),
        |v AS (SELECT doc_id, form, w, h,
        |    CASE WHEN form IN (0, 3) THEN idx * 16
        |         WHEN form = 1 THEN glvl
        |         ELSE (doc_id + x) % 256 END AS r,
        |    CASE WHEN form IN (0, 3) THEN 255 - idx * 16
        |         WHEN form = 1 THEN glvl
        |         ELSE (doc_id * 2 + y) % 256 END AS g,
        |    CASE WHEN form IN (0, 3) THEN (idx * idx) % 256
        |         WHEN form = 1 THEN glvl
        |         ELSE (doc_id * 3 + x + y) % 256 END AS b,
        |    CASE WHEN form IN (0, 3) THEN
        |           CASE WHEN idx < 8 THEN idx * 17 ELSE 255 END
        |         WHEN form = 1 THEN
        |           CASE WHEN glvl = doc_id % 256 THEN 0 ELSE 255 END
        |         ELSE CASE WHEN x = 0 AND y = 0 THEN 0 ELSE 255 END
        |    END AS a
        |  FROM px)
        |SELECT doc_id,
        |  CASE form WHEN 0 THEN 'plte4_trns' WHEN 1 THEN 'gray8_key'
        |    WHEN 2 THEN 'rgb8_key' ELSE 'plte8_trns_adam7' END AS form,
        |  any_value(w)::BIGINT AS width, any_value(h)::BIGINT AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b, sum(a)::BIGINT AS alpha_sum,
        |  sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)::BIGINT AS n_transparent
        |FROM v GROUP BY doc_id, form ORDER BY doc_id""".stripMargin,
    // tiled + multi-sample TIFF (q200): RGB rasters with per-component
    // predictor 2 and 16x16-tile layouts with padded edges; pixel_sum
    // spans every sample so placement/differencing slips shift it
    "q200_tiff_tiled" ->
      """WITH d AS (SELECT doc_id, (20 + doc_id % 13)::INT AS w,
        |    (10 + doc_id % 9)::INT AS h, (doc_id % 4)::INT AS form
        |  FROM documents),
        |px AS (SELECT d.doc_id, d.form, d.w, d.h, xx.x, yy.y
        |  FROM d, unnest(range(d.w)) AS xx(x), unnest(range(d.h)) AS yy(y)),
        |v AS (SELECT doc_id, form, w, h,
        |    CASE WHEN form = 1 THEN (x + 2 * y + doc_id) % 251
        |         ELSE ((x + 2 * y + doc_id) % 251) +
        |              ((x + 2 * y + doc_id + 11) % 251) +
        |              ((x + 2 * y + doc_id + 22) % 251) END AS s
        |  FROM px)
        |SELECT doc_id, 'ok' AS status,
        |  CASE WHEN form = 0 THEN 'strips' ELSE 'tiled' END AS layout,
        |  CASE WHEN form = 2 THEN 'packbits' ELSE 'lzw' END AS compression,
        |  CASE WHEN form = 1 THEN 1 ELSE 3 END::BIGINT AS spp,
        |  any_value(w)::BIGINT AS width, any_value(h)::BIGINT AS height,
        |  sum(s)::BIGINT AS pixel_sum
        |FROM v GROUP BY doc_id, form ORDER BY doc_id""".stripMargin,
    // redirect resolution (q179): WARC-borne 301/302 chains collapse
    // to their block-base 200s in MaxHops bounded equi-joins;
    // self-loops surface typed (is_loop, final '') - the URL-alias
    // collapse every URL-keyed dedup needs first
    "q179_redirect_resolve" ->
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  CASE WHEN doc_id % 50 = 49 THEN ''
        |    ELSE 'https://example.test/doc/' || (doc_id - doc_id % 5)
        |    END AS final_url,
        |  (CASE WHEN doc_id % 50 = 49 THEN -1
        |    ELSE doc_id % 5 END)::BIGINT AS n_hops,
        |  (doc_id % 50 = 49) AS is_loop,
        |  false AS unresolved
        |FROM documents ORDER BY doc_id""".stripMargin,
    // corpus report (q178): per-language + grand-total rows from ONE
    // rollup pass (the q55 grouping-sets machinery); q170's label
    // arithmetic partitions, token/char stats from the raw documents
    "q178_corpus_report" ->
      """WITH d AS (SELECT
        |    CASE doc_id % 6 WHEN 0 THEN 'de' WHEN 1 THEN 'el'
        |      WHEN 2 THEN 'en' WHEN 3 THEN 'es' WHEN 4 THEN 'fr'
        |      ELSE 'ru' END AS lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    strlen(text)::BIGINT AS n_chars
        |  FROM documents)
        |SELECT coalesce(lang, 'total') AS lang,
        |  count(*)::BIGINT AS n_docs,
        |  sum(n_tokens)::BIGINT AS sum_tokens,
        |  sum(n_chars)::BIGINT AS sum_chars,
        |  (sum(n_tokens) // count(*))::BIGINT AS tokens_per_doc
        |FROM d GROUP BY ROLLUP (lang) ORDER BY lang""".stripMargin,
    // SVG extraction (q177): dimensions (attribute and viewBox forms),
    // element census, title + text runs with entity folding; comment/
    // script/style decoys elided first - the q122 discipline on the
    // SVG namespace
    "q177_svg_extract" ->
      """WITH d AS (SELECT doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ')
        |      AS w4
        |  FROM documents)
        |SELECT doc_id, (100 + doc_id % 300)::BIGINT AS width,
        |  (80 + doc_id % 200)::BIGINT AS height,
        |  (1 + doc_id % 4)::BIGINT AS n_paths,
        |  (doc_id % 3)::BIGINT AS n_rects,
        |  (1 + doc_id % 2)::BIGINT AS n_circles,
        |  2::BIGINT AS n_texts,
        |  'Fig № ' || doc_id AS title,
        |  sha256(w4 || chr(10) || 'Label &' || doc_id || ' <end>') AS text_sha
        |FROM d ORDER BY doc_id""".stripMargin,
    // WebDataset export (q176): the tar-shard training format -
    // adjacent <key>.txt/<key>.cls entries per sample, real ustar
    // shards re-parsed through the q147 walker and reassembled by the
    // adjacency rule; shard name, window-counted sample count, text
    // sha, and the q170 label all from doc_id arithmetic
    "q176_webdataset_export" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS sid,
        |    text || ' Wds № ' || doc_id AS txt,
        |    CASE doc_id % 6 WHEN 0 THEN 'de' WHEN 1 THEN 'el'
        |      WHEN 2 THEN 'en' WHEN 3 THEN 'es' WHEN 4 THEN 'fr'
        |      ELSE 'ru' END AS cls
        |  FROM documents)
        |SELECT doc_id,
        |  'shard-' || lpad(sid::VARCHAR, 6, '0') || '.tar' AS shard,
        |  count(*) OVER (PARTITION BY sid) AS shard_samples,
        |  sha256(txt) AS text_sha, cls
        |FROM d ORDER BY doc_id""".stripMargin,
    // CSV round trip (q175): RFC 4180 quoting through the NATIVE
    // from_csv (escape='"' — the doubling convention; Spark's default
    // backslash escape would corrupt exactly the planted cells);
    // embedded comma, doubled quotes, and a real newline in the middle
    // cell, replayed by the oracle from (doc_id, text)
    "q175_csv_roundtrip" ->
      """SELECT doc_id, 'Doc ' || doc_id AS a,
        |  sha256(text || chr(10) || '"q" one,two of ' || doc_id) AS b_sha,
        |  (length(text) + length(chr(10) || '"q" one,two of ' || doc_id))::BIGINT
        |    AS b_len,
        |  doc_id AS c
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Ogg container walk (q174): real Vorbis/Opus streams with a packet
    // crossing a page boundary; pages verified under Ogg's
    // NON-reflected CRC, packets assembled through the lacing layer,
    // ident + comment headers parsed — every column from (doc_id, text)
    // arithmetic
    "q174_ogg_extract" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS kind,
        |  (4096 + doc_id % 9000)::BIGINT AS serial,
        |  (5 + doc_id % 3)::BIGINT AS n_pages,
        |  (5 + doc_id % 3)::BIGINT AS n_packets,
        |  (1 + doc_id % 2)::BIGINT AS channels,
        |  (8000 + (doc_id % 8) * 4000)::BIGINT AS sample_rate,
        |  ((100 + doc_id % 1000) * 256)::BIGINT AS total_samples,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
        |    || ' № ' || doc_id AS title,
        |  'graft-ogg 1.0' AS vendor
        |FROM documents ORDER BY doc_id""".stripMargin,
    // HTML5 charset sniffing (q173): header-unlabeled bodies whose
    // encoding only the meta prescan or the UTF-8 BOM reveals — the
    // real-crawl norm; the BOM must also be STRIPPED or the first
    // block's sha shifts by a U+FEFF
    "q173_warc_meta_charset" -> (htmlExtractCtes(
      " ||\n    '<p>' || CASE doc_id % 4\n" +
        "      WHEN 0 THEN 'Meta € équipe fin'\n" +
        "      WHEN 1 THEN 'Equiv café è fin'\n" +
        "      WHEN 2 THEN 'BOM naïve — fin'\n" +
        "      ELSE 'Default plain fin' END || ' ' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  CASE doc_id % 4 WHEN 0 THEN 'windows-1252'
        |    WHEN 1 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // CDX selective access (q172): index the q135 gzip-member archives
    // (compressed member extents), then reconstruct EVERY document by
    // range-reading its record through fetchRecordGz — no full-archive
    // walk on the extraction path. Contract == q135: a one-byte extent
    // slip fails the member inflate and changes rows.
    "q172_cdx_fetch" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // WET round trip (q148): the q135 corpus through extraction, then
    // RE-EXPORTED as gzip-member conversion records and walked back;
    // strlen pins the writer's octet-counted Content-Length externally,
    // so a char-counted length or lost member boundary can't cancel
    // between the writer and the parser
    "q148_wet_roundtrip" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  strlen(array_to_string(blocks, chr(10)))::BIGINT AS n_octets,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // mixed HTTP codings (q139): identity / chunked / gzip-in-chunked /
    // zlib-deflate / REAL brotli (RFC 7932) / REAL zstd (RFC 8878)
    // bodies through the same front door, PLUS a compress-labeled leg
    // that must surface as a typed `unsupported:compress` record with
    // an EMPTY body (never the compressed octets decoded as text); the
    // decoded text collapses to the q128 expectation and the applied
    // coding chain is derived from the corpus arithmetic — an
    // un-framing or inflate slip changes `enc`, rows, or the sha
    // charset-labeled bodies (q142): Latin-1 / Windows-1252 / UTF-8 /
    // unlabeled deliveries of the same logical text must all decode to
    // the same Unicode; the reported charset and extracted text are
    // pinned from the doc_id arithmetic
    "q142_warc_charset" -> (htmlExtractCtes(
      " ||\n    '<p>' || CASE doc_id % 4\n" +
        "      WHEN 0 THEN 'UTF naïve — fin'\n" +
        "      WHEN 1 THEN 'Latin café è ø fin'\n" +
        "      WHEN 2 THEN 'CP équipe € fin'\n" +
        "      ELSE 'Plain naïve fin' END || ' ' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  CASE doc_id % 4 WHEN 1 THEN 'iso-8859-1'
        |    WHEN 2 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // DOCX extraction (q143): the Spark side builds a real three-entry
    // ZIP per document (stored + deflated members, CRC-verified),
    // walks EOCD -> central directory -> local headers, and applies
    // the WordprocessingML text rules (w:t runs, w:tab/w:br, w:delText
    // skipped, entities decoded); the oracle replays the assembled
    // text from pure (doc_id, text) word arithmetic — the container,
    // deflate, XML, and entity layers all collapse out
    "q143_docx_extract" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |p AS (SELECT doc_id, i // 8 AS pid, string_agg(w, ' ' ORDER BY i) AS ptext
        |  FROM w GROUP BY doc_id, i // 8),
        |body AS (SELECT doc_id, string_agg(ptext, chr(10) ORDER BY pid) AS btext,
        |    count(*) AS np
        |  FROM p GROUP BY doc_id),
        |f AS (SELECT d.doc_id,
        |    CASE WHEN b.btext IS NULL THEN '' ELSE b.btext || chr(10) END ||
        |    'Amp & lt < gt > quot " apos '' tab' || chr(9) || 'break' ||
        |    chr(10) || 'fin ' || d.doc_id AS ftext,
        |    coalesce(b.np, 0) + 1 AS np
        |  FROM d LEFT JOIN body b USING (doc_id))
        |SELECT doc_id, 'ok' AS status, 3::BIGINT AS n_entries,
        |  CASE WHEN doc_id % 2 = 0 THEN 'deflate' ELSE 'stored' END AS method,
        |  np::BIGINT AS n_paragraphs, length(ftext)::BIGINT AS n_chars,
        |  sha256(ftext) AS text_sha
        |FROM f ORDER BY doc_id""".stripMargin,
    // TAR extraction (q147): the Spark side builds a real ustar archive
    // per document (101-byte deep dir forcing the prefix split, binary
    // decoy, modular word-slice .txt parts, multi-byte marker; even ids
    // plain tar, odd a two-member tar.gz) and walks it back; the oracle
    // replays member names, file octet totals, and the text sha from
    // pure (doc_id, text) word arithmetic — any checksum/octal/prefix/
    // padding/gzip-member slip changes a column
    "q147_tar_extract" ->
      """WITH d AS (SELECT doc_id, (1 + doc_id % 3)::INT AS k,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, k, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |pj AS (SELECT doc_id, i % k AS j, string_agg(w, ' ' ORDER BY i) AS ptext
        |  FROM w GROUP BY doc_id, i % k),
        |jj AS (SELECT d.doc_id, d.k, j.j FROM d, unnest(range(d.k)) AS j(j)),
        |parts AS (SELECT jj.doc_id, jj.k, jj.j, coalesce(pj.ptext, '') AS ptext
        |  FROM jj LEFT JOIN pj ON pj.doc_id = jj.doc_id AND pj.j = jj.j),
        |ld AS (SELECT 'deep/' || repeat('x', 96) AS dir),
        |agg AS (SELECT doc_id, any_value(k) AS k,
        |    string_agg(ptext, chr(10) ORDER BY j) AS ptxt,
        |    string_agg(dir || '/part_' || j || '.txt', chr(10) ORDER BY j) AS pnames,
        |    sum(strlen(ptext)) AS pbytes
        |  FROM parts, ld GROUP BY doc_id)
        |SELECT a.doc_id, 'ok' AS status,
        |  CASE WHEN a.doc_id % 2 = 0 THEN 'tar'
        |       WHEN a.doc_id % 4 = 3 THEN 'tar.bz2'
        |       ELSE 'tgz' END AS container,
        |  (a.k + 3)::BIGINT AS n_members, (a.k + 2)::BIGINT AS n_files,
        |  (a.pbytes + strlen('Tar № ' || a.doc_id) + 64)::BIGINT AS n_bytes,
        |  sha256(dir || chr(10) || 'meta/decoy.bin' || chr(10) || a.pnames ||
        |    chr(10) || 'marker.txt') AS names_sha,
        |  sha256(a.ptxt || chr(10) || 'Tar № ' || a.doc_id) AS text_sha
        |FROM agg a, ld ORDER BY a.doc_id""".stripMargin,
    // .tar.xz ingestion (q201): the q147 member layout in an xz
    // stream (LZMA2 or stored chunks behind BCJ/delta filters), walked
    // back through the container door
    "q201_tar_xz" ->
      """WITH d AS (SELECT doc_id, (1 + doc_id % 3)::INT AS k,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, k, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |pj AS (SELECT doc_id, i % k AS j, string_agg(w, ' ' ORDER BY i) AS ptext
        |  FROM w GROUP BY doc_id, i % k),
        |jj AS (SELECT d.doc_id, d.k, j.j FROM d, unnest(range(d.k)) AS j(j)),
        |parts AS (SELECT jj.doc_id, jj.k, jj.j, coalesce(pj.ptext, '') AS ptext
        |  FROM jj LEFT JOIN pj ON pj.doc_id = jj.doc_id AND pj.j = jj.j),
        |ld AS (SELECT 'deep/' || repeat('x', 96) AS dir),
        |agg AS (SELECT doc_id, any_value(k) AS k,
        |    string_agg(ptext, chr(10) ORDER BY j) AS ptxt,
        |    string_agg(dir || '/part_' || j || '.txt', chr(10) ORDER BY j) AS pnames,
        |    sum(strlen(ptext)) AS pbytes
        |  FROM parts, ld GROUP BY doc_id)
        |SELECT a.doc_id, 'ok' AS status, 'tar.xz' AS container,
        |  (a.k + 3)::BIGINT AS n_members, (a.k + 2)::BIGINT AS n_files,
        |  (a.pbytes + strlen('Tar № ' || a.doc_id) + 64)::BIGINT AS n_bytes,
        |  sha256(dir || chr(10) || 'meta/decoy.bin' || chr(10) || a.pnames ||
        |    chr(10) || 'marker.txt') AS names_sha,
        |  sha256(a.ptxt || chr(10) || 'Tar № ' || a.doc_id) AS text_sha
        |FROM agg a, ld ORDER BY a.doc_id""".stripMargin,
    // packing with document-boundary attention masks (q203): per
    // context window the ordered (doc, start, len) segment list under
    // a sha, plus mask_pairs (block-diagonal) vs dense_pairs (the
    // cross-document leakage an unmasked window trains on)
    "q203_pack_mask" ->
      """WITH t AS (SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS tok FROM documents),
        |o AS (SELECT doc_id, tok,
        |    coalesce(sum(tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS off
        |  FROM t),
        |s AS (SELECT doc_id, tok, off,
        |    unnest(range(off // 256, (off + tok - 1) // 256 + 1)) AS chunk_id
        |  FROM o WHERE tok > 0),
        |g AS (SELECT chunk_id, doc_id,
        |    greatest(off - chunk_id * 256, 0) AS seg_start,
        |    least((chunk_id + 1) * 256, off + tok) -
        |      greatest(chunk_id * 256, off) AS seg_len
        |  FROM s)
        |SELECT chunk_id, count(*)::BIGINT AS n_segments,
        |  sum(seg_len)::BIGINT AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  sum(seg_len * seg_len)::BIGINT AS mask_pairs,
        |  (sum(seg_len) * sum(seg_len))::BIGINT AS dense_pairs,
        |  sha256(string_agg(doc_id || ':' || seg_start || ':' || seg_len,
        |    '|' ORDER BY seg_start, doc_id, seg_len)) AS boundaries_sha
        |FROM g GROUP BY chunk_id ORDER BY chunk_id""".stripMargin,
    // SFT chat-template + loss-mask construction (q202): two-round
    // conversations cut at the 1/3, 2/3, 5/6 token marks, rendered
    // through a fixed template; the loss mask covers assistant CONTENT
    // tokens only, emitted as exact rendered-token offsets the oracle
    // replays — template arithmetic is where SFT labels silently rot
    "q202_chat_sft" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, ws, len(ws)::INT AS n,
        |    (len(ws) // 3)::INT AS c1,
        |    ((len(ws) * 2) // 3)::INT AS c2,
        |    ((len(ws) * 5) // 6)::INT AS c3 FROM t),
        |s AS (SELECT doc_id, n, c1, c2, c3,
        |    array_to_string(list_slice(ws, 1, c1), ' ') AS u1,
        |    array_to_string(list_slice(ws, c1 + 1, c2), ' ') AS a1,
        |    array_to_string(list_slice(ws, c2 + 1, c3), ' ') AS u2,
        |    array_to_string(list_slice(ws, c3 + 1, n), ' ') AS a2
        |  FROM d)
        |SELECT doc_id, n::BIGINT AS n_tokens,
        |  (n + 6)::BIGINT AS n_rendered,
        |  (c1 + 2)::BIGINT AS mask1_start,
        |  (c2 - c1)::BIGINT AS mask1_len,
        |  (c3 + 5)::BIGINT AS mask2_start,
        |  (n - c3)::BIGINT AS mask2_len,
        |  sha256('<|user|> ' || u1 || ' <|assistant|> ' || a1 ||
        |    ' <|end|> ' || '<|user|> ' || u2 || ' <|assistant|> ' ||
        |    a2 || ' <|end|>') AS rendered_sha
        |FROM s ORDER BY doc_id""".stripMargin,
    // sentence segmentation (q167): the insert-then-split shape (RE2
    // has no lookbehind) with sentinel-protected abbreviations and
    // decimals; both engines run the IDENTICAL chain on the same
    // composed text — the planted block makes every rule bind per row
    "q167_sentence_split" ->
      """WITH c AS (SELECT doc_id, text || ' ' ||
        |    'Dr. Smith met Prof. Jones at ' || (doc_id % 10) ||
        |    '.5 km. They left early. Did they return? Yes! End ' ||
        |    doc_id || '.' AS t
        |  FROM documents),
        |p AS (SELECT doc_id, replace(replace(replace(replace(replace(t,
        |    'Dr.', 'Dr' || chr(1)), 'Prof.', 'Prof' || chr(1)),
        |    'e.g.', 'e.g' || chr(1)), 'i.e.', 'i.e' || chr(1)),
        |    'vs.', 'vs' || chr(1)) AS t
        |  FROM c),
        |n AS (SELECT doc_id, regexp_replace(t, '([0-9])\.([0-9])',
        |    '\1' || chr(1) || '\2', 'g') AS t FROM p),
        |b AS (SELECT doc_id, regexp_replace(t, '([.!?]) +([A-Z])',
        |    '\1' || chr(10) || '\2', 'g') AS t FROM n),
        |s AS (SELECT doc_id, list_filter(list_transform(
        |    string_split(t, chr(10)), x -> trim(replace(x, chr(1), '.'))),
        |    x -> x <> '') AS ss
        |  FROM b)
        |SELECT doc_id, len(ss)::BIGINT AS n_sentences,
        |  (list_sum(list_transform(ss, x -> length(x))) // len(ss))::BIGINT
        |    AS avg_len,
        |  sha256(array_to_string(ss, chr(10))) AS text_sha
        |FROM s ORDER BY doc_id""".stripMargin,
    // revisit accounting (q166): unchanged pages arrive as body-less
    // revisit records whose digest lives in a HEADER while responses
    // compute it from the HTTP body — one oracle digest formula both
    // acquisition paths must collapse to
    "q166_warc_revisit" -> (htmlExtractCtes() +
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'revisit' ELSE 'response' END AS kind,
        |  sha256(html) AS digest,
        |  (doc_id % 4 <> 0) AS refreshed
        |FROM h ORDER BY doc_id""".stripMargin),
    // code-quality signals (q165): language routing by shebang/comment
    // dialect, per-dialect comment counts with the shebang excluded by
    // SUBTRACTION (RE2 has no lookahead - the rule lives in the common
    // dialect), integer comment share, SPDX gate, max line length
    "q165_code_quality" ->
      """WITH c AS (SELECT doc_id, (6 + doc_id % 8) AS k,
        |    (doc_id % 4 = 0) AS lic, (doc_id % 6 = 0) AS sh
        |  FROM documents),
        |s AS (SELECT doc_id, k, lic, sh,
        |    (k + 2) // 3 + CASE WHEN lic THEN 2 ELSE 0 END AS ncom,
        |    k + 1 + CASE WHEN sh THEN 1 ELSE 0 END +
        |      CASE WHEN lic THEN 2 ELSE 0 END AS nl
        |  FROM c)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'python' WHEN 1 THEN 'scala'
        |    ELSE 'sql' END AS lang,
        |  nl::BIGINT AS n_lines, ncom::BIGINT AS n_comment,
        |  (ncom * 100 // nl)::BIGINT AS comment_pct,
        |  (90 + doc_id % 40)::BIGINT AS max_line_len,
        |  lic AS has_license, sh AS has_shebang
        |FROM s ORDER BY doc_id""".stripMargin,
    // mbox container (q164): 8 mbox files of singlepart messages whose
    // bodies carry From-leading lines — the writer must mboxrd-quote
    // and the reader unquote, and an unquoted split would lose body
    // tails; sender, subject, line count, body sha all replayed
    "q164_mbox_extract" ->
      """SELECT doc_id,
        |  's' || (doc_id % 20) || '@example.test' AS from_env,
        |  'msg ' || doc_id AS subject,
        |  (strlen(text) - strlen(replace(text, chr(10), '')) + 2)::BIGINT
        |    AS n_lines,
        |  sha256(text || chr(10) || 'From here on ' || doc_id) AS body_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // notebook extraction (q163): parse_json + VARIANT probes (the
    // Spark 4 semi-structured path) over nbformat cells — the
    // string-or-array source wart planted with identical text so the
    // hash only survives if both forms decode; outputs never leak
    "q163_notebook_extract" ->
      """WITH d AS (SELECT doc_id, (2 + doc_id % 4)::INT AS k FROM documents),
        |c AS (SELECT d.doc_id, j.j FROM d, unnest(range(d.k)) AS j(j)),
        |t AS (SELECT doc_id, j,
        |    CASE WHEN j % 2 = 0 THEN 'import x_' || doc_id || chr(10) ||
        |      'print(' || doc_id || '+' || j || ')' || chr(10) END AS code,
        |    CASE WHEN j % 2 = 1 THEN '# Head ' || doc_id || chr(10) ||
        |      'cell ' || j || chr(10) END AS md
        |  FROM c),
        |agg AS (SELECT doc_id,
        |    string_agg(code, '' ORDER BY j) FILTER (WHERE code IS NOT NULL)
        |      AS codes,
        |    string_agg(md, '' ORDER BY j) FILTER (WHERE md IS NOT NULL) AS mds,
        |    count(code) AS ncode, count(md) AS nmd, count(*) AS nc
        |  FROM t GROUP BY doc_id)
        |SELECT doc_id, 'python' AS language, nc::BIGINT AS n_cells,
        |  ncode::BIGINT AS n_code, nmd::BIGINT AS n_markdown,
        |  sha256(codes) AS code_sha, sha256(mds) AS md_sha
        |FROM agg ORDER BY doc_id""".stripMargin,
    // TIFF scan (q162): BOTH byte orders under one hash (II even, MM
    // odd), multi-page IFD chains (%3=0 gets a second page), inline
    // left-justified SHORT values, strip sums as grid arithmetic, the
    // ASCII DateTime tag at offset
    "q162_tiff_scan" ->
      """WITH g AS (SELECT doc_id, (8 + doc_id % 5)::INT AS w,
        |    (4 + doc_id % 3)::INT AS h
        |  FROM documents),
        |s1 AS (SELECT g.doc_id, sum((x.x + y.y + g.doc_id) % 251) AS s
        |  FROM g, unnest(range(g.w)) AS x(x), unnest(range(g.h)) AS y(y)
        |  GROUP BY g.doc_id),
        |s2 AS (SELECT doc_id, sum((x.x + y.y + doc_id) % 251) AS s
        |  FROM documents, unnest(range(4)) AS x(x), unnest(range(4)) AS y(y)
        |  WHERE doc_id % 3 = 0 GROUP BY doc_id)
        |SELECT g.doc_id, 'ok' AS status,
        |  CASE WHEN g.doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
        |  (CASE WHEN g.doc_id % 3 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_pages,
        |  g.w::BIGINT AS width, g.h::BIGINT AS height, 8::BIGINT AS bits,
        |  (s1.s + coalesce(s2.s, 0))::BIGINT AS pixel_sum,
        |  '2026:' || lpad((g.doc_id % 12 + 1)::VARCHAR, 2, '0') || ':' ||
        |    lpad((g.doc_id % 28 + 1)::VARCHAR, 2, '0') || ' ' ||
        |    lpad((g.doc_id % 24)::VARCHAR, 2, '0') || ':00:00' AS datetime
        |FROM g JOIN s1 USING (doc_id) LEFT JOIN s2 USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,
    // FLAC scan (q161): STREAMINFO's 64-bit packed region (20-bit rate,
    // 3-bit channels, 5-bit depth, 36-bit exact samples) read off
    // big-endian block headers; the VORBIS_COMMENT little-endian
    // island with case-insensitive keys and octet-counted lengths;
    // every column replayed from doc_id arithmetic
    "q161_flac_scan" ->
      """SELECT doc_id, 'ok' AS status,
        |  (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |    ELSE 96000 END)::BIGINT AS sample_rate,
        |  (1 + doc_id % 2)::BIGINT AS channels,
        |  (CASE WHEN doc_id % 4 = 0 THEN 24 ELSE 16 END)::BIGINT AS bits,
        |  (100000 + doc_id * 37)::BIGINT AS total_samples,
        |  ((100000 + doc_id * 37) * 1000 // (CASE doc_id % 3 WHEN 0 THEN 44100
        |    WHEN 1 THEN 48000 ELSE 96000 END))::BIGINT AS duration_ms,
        |  'Track № ' || doc_id AS title,
        |  'Artist ' || (doc_id % 20) AS artist,
        |  3::BIGINT AS n_blocks
        |FROM documents ORDER BY doc_id""".stripMargin,
    // unified diff render+parse+apply (q160): the engine's Myers deltas
    // rendered as diff -u (context 3, deltas closer than 2x context
    // merged), parsed back, and APPLIED with verified context; the
    // oracle replays added/removed, the merged hunk count (the gap
    // rule as arithmetic), and the sha of the reconstructed new file
    "q160_unidiff_apply" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |l AS (SELECT doc_id, i // 8 AS ln, string_agg(w, ' ' ORDER BY i) AS line
        |  FROM w GROUP BY doc_id, i // 8),
        |n AS (SELECT d.doc_id, coalesce(c.nl, 0) AS nl
        |  FROM d LEFT JOIN (SELECT doc_id, count(*) AS nl FROM l GROUP BY doc_id) c
        |  USING (doc_id)),
        |edited AS (SELECT l.doc_id, l.ln,
        |    CASE WHEN l.ln = n.doc_id % n.nl THEN 'EDITED ' || l.doc_id
        |      ELSE l.line END AS line
        |  FROM l JOIN n USING (doc_id) WHERE n.nl > 0),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS body
        |  FROM edited GROUP BY doc_id)
        |SELECT n.doc_id, 'ok' AS status,
        |  (CASE WHEN n.nl = 0 THEN 1
        |    WHEN n.nl - (n.doc_id % n.nl) - 1 <= 6 THEN 1 ELSE 2 END)::BIGINT
        |    AS n_hunks,
        |  (CASE WHEN n.nl = 0 THEN 1 ELSE 2 END)::BIGINT AS n_added,
        |  (CASE WHEN n.nl = 0 THEN 0 ELSE 1 END)::BIGINT AS n_removed,
        |  sha256(CASE WHEN n.nl = 0 THEN 'ADDED ' || n.doc_id
        |    ELSE a.body || chr(10) || 'ADDED ' || n.doc_id END) AS new_sha
        |FROM n LEFT JOIN agg a USING (doc_id) ORDER BY n.doc_id""".stripMargin,
    // email extraction (q159): one multipart message per document —
    // folded headers, RFC 2047 encoded-word subjects (odd ids),
    // quoted-printable text part with soft breaks and a planted
    // boundary LOOKALIKE line, base64 html alternative ignored; the
    // oracle replays subject/sender/day/parts and the decoded body sha
    // (incl. the lookalike tail) from (doc_id, text) arithmetic
    "q159_eml_extract" ->
      """SELECT doc_id, 'ok' AS status,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Re: msg ' || doc_id
        |    ELSE 'Re: № ' || doc_id END AS subject,
        |  'Sender ' || (doc_id % 20) AS from_name,
        |  (make_date(2026, (doc_id % 12 + 1)::INT, (doc_id % 28 + 1)::INT) -
        |    DATE '1970-01-01')::BIGINT AS sent_day,
        |  2::BIGINT AS n_parts,
        |  sha256(text || ' café № ' || doc_id || chr(13) || chr(10) ||
        |    '--b' || doc_id || ' look' || chr(13) || chr(10) ||
        |    'end ' || doc_id) AS text_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // script detection (q157): real \p{Is...} Unicode-script counts
    // over planted multi-script runs; the oracle replays the Latin
    // count from its own ASCII regexp, the rest from arithmetic, and
    // re-derives the argmax + integer Latin share
    "q157_script_detect" ->
      """WITH c AS (SELECT doc_id,
        |    strlen(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT AS n_latin,
        |    ((doc_id % 5) * 120)::BIGINT AS n_han,
        |    (doc_id % 20)::BIGINT AS n_cyrillic,
        |    (doc_id % 10)::BIGINT AS n_arabic
        |  FROM documents)
        |SELECT doc_id, n_latin, n_han, n_cyrillic, n_arabic,
        |  CASE WHEN n_arabic >= n_cyrillic AND n_arabic >= n_han
        |      AND n_arabic >= n_latin THEN 'arabic'
        |    WHEN n_cyrillic >= n_han AND n_cyrillic >= n_latin THEN 'cyrillic'
        |    WHEN n_han >= n_latin THEN 'han'
        |    ELSE 'latin' END AS dominant,
        |  (n_latin * 100 // greatest(n_latin + n_han + n_cyrillic + n_arabic,
        |    1))::BIGINT AS latin_pct
        |FROM c ORDER BY doc_id""".stripMargin,
    // snapshot diff (q158): two crawl snapshots from period-disjoint
    // arithmetic (gone %7=3, changed %5=0, new %13=0), full-outer
    // joined on url and classified by digest; rows and both digests
    // replayed
    "q158_snapshot_diff" ->
      """WITH a AS (SELECT '/doc/' || doc_id AS url,
        |    sha256('v0:/doc/' || doc_id) AS a_digest
        |  FROM documents),
        |b AS (SELECT '/doc/' || doc_id AS url,
        |    sha256('v' || (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) ||
        |      ':/doc/' || doc_id) AS b_digest
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT '/new/' || doc_id AS url,
        |    sha256('v1:/new/' || doc_id) AS b_digest
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT coalesce(a.url, b.url) AS url,
        |  CASE WHEN a.url IS NULL THEN 'new'
        |    WHEN b.url IS NULL THEN 'gone'
        |    WHEN a.a_digest = b.b_digest THEN 'same'
        |    ELSE 'changed' END AS status,
        |  coalesce(a.a_digest, '') AS a_digest,
        |  coalesce(b.b_digest, '') AS b_digest
        |FROM a FULL OUTER JOIN b ON a.url = b.url
        |ORDER BY url""".stripMargin,
    // data-URI extraction (q156): inline base64 resources out of
    // markup in one regex pass, unbase64-decoded; the oracle pins BOTH
    // directions — payload sha from the raw strings AND base64-text
    // sha via DuckDB's own encoder — so a symmetric encode/decode bug
    // cannot cancel
    "q156_data_uri_extract" ->
      """WITH p AS (SELECT doc_id,
        |    'PNGDATA:' || doc_id || ':' || repeat('x', (doc_id % 50)::INT) AS p1,
        |    'inline text ' || doc_id AS p2
        |  FROM documents)
        |SELECT doc_id, 2::BIGINT AS n_uris,
        |  'image/png,text/plain' AS mimes,
        |  (strlen(p1) + strlen(p2))::BIGINT AS n_bytes,
        |  sha256(p1 || chr(10) || p2) AS payload_sha,
        |  sha256(to_base64(p1::BLOB) || chr(10) || to_base64(p2::BLOB))
        |    AS b64_sha
        |FROM p ORDER BY doc_id""".stripMargin,
    // subtitle extraction (q155): SRT (even ids) / WebVTT (odd) built
    // from 3-word cues on a 2500 ms grid, parsed back with styling
    // stripped and header/NOTE decoys dropped; counts, timing sums,
    // and the text sha replayed from (doc_id, text) word arithmetic
    "q155_subtitle_extract" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |cj AS (SELECT doc_id, i // 3 AS c, string_agg(w, ' ' ORDER BY i) AS ctext
        |  FROM w GROUP BY doc_id, i // 3),
        |agg AS (SELECT doc_id, string_agg(ctext, chr(10) ORDER BY c) AS body,
        |    count(*) AS nc FROM cj GROUP BY doc_id),
        |f AS (SELECT d.doc_id,
        |    CASE WHEN a.body IS NULL THEN 'Sub № ' || d.doc_id
        |      ELSE a.body || chr(10) || 'Sub № ' || d.doc_id END AS ftext,
        |    coalesce(a.nc, 0) + 1 AS nc
        |  FROM d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS fmt,
        |  nc::BIGINT AS n_cues,
        |  ((doc_id % 7) * 100)::BIGINT AS first_start_ms,
        |  (nc * 2000)::BIGINT AS total_ms,
        |  sha256(ftext) AS text_sha
        |FROM f ORDER BY doc_id""".stripMargin,
    // frontier scheduling (q154): the composition query — the REAL
    // robots evaluator over planted last-digit rules, sitemap recency
    // vs the host's feed high-water mark, per-host ranking and
    // politeness waves of 50; the oracle replays the whole schedule
    // with its own window
    "q154_frontier_schedule" ->
      """WITH u AS (SELECT doc_id, doc_id % 8 AS h,
        |    (make_date(2026, (doc_id % 12 + 1)::INT, (doc_id % 28 + 1)::INT) -
        |      DATE '1970-01-01') AS lastmod_day,
        |    CASE WHEN doc_id % 5 = 0 THEN 5 ELSE doc_id % 10 END
        |      AS priority_tenths
        |  FROM documents),
        |g AS (SELECT doc_id, h, lastmod_day, priority_tenths,
        |    NOT (doc_id % 10 = 3 OR (h % 2 = 1 AND doc_id % 10 = 7)) AS allowed,
        |    CASE WHEN doc_id % 10 = 3 THEN '/doc/*3$'
        |      WHEN h % 2 = 1 AND doc_id % 10 = 7 THEN '/doc/*7$'
        |      ELSE '/doc/' END AS rule,
        |    max(lastmod_day) OVER (PARTITION BY h) - lastmod_day AS fresh_lag
        |  FROM u),
        |r AS (SELECT *, row_number() OVER (PARTITION BY h, allowed
        |    ORDER BY priority_tenths DESC, lastmod_day DESC, doc_id) AS rn
        |  FROM g)
        |SELECT doc_id, 'h' || h || '.example.test' AS host,
        |  '/doc/' || doc_id AS path, allowed, rule,
        |  lastmod_day::BIGINT AS lastmod_day,
        |  priority_tenths::BIGINT AS priority_tenths,
        |  fresh_lag::BIGINT AS fresh_lag,
        |  (CASE WHEN allowed THEN rn ELSE -1 END)::BIGINT AS crawl_rank,
        |  (CASE WHEN allowed THEN (rn - 1) // 50 + 1 ELSE -1 END)::BIGINT
        |    AS fetch_wave
        |FROM r ORDER BY doc_id""".stripMargin,
    // MP3 scan (q153): a tagged CBR stream per document — syncsafe
    // ID3v2 skip with TIT2/TPE1 reads, frame walk by COMPUTED length
    // over payloads with planted sync bytes, ID3v1 clean end; every
    // column replayed from doc_id arithmetic
    "q153_mp3_scan" ->
      """SELECT doc_id, 'ok' AS status, 'Track ' || doc_id AS title,
        |  'Artist ' || (doc_id % 20) AS artist, 'cbr' AS mode,
        |  (CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 192
        |    ELSE 256 END)::BIGINT AS bitrate_kbps,
        |  (CASE doc_id % 2 WHEN 0 THEN 44100 ELSE 48000 END)::BIGINT
        |    AS sample_rate,
        |  (8 + doc_id % 12)::BIGINT AS n_frames,
        |  ((8 + doc_id % 12) * 1152 * 1000 //
        |    (CASE doc_id % 2 WHEN 0 THEN 44100 ELSE 48000 END))::BIGINT
        |    AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // TFRecord round trip (q152): each document's shard written with
    // masked-CRC32C framing and walked back with both CRCs verified;
    // record count, payload octets, and the text sha replayed from
    // pure (doc_id, text) word arithmetic (the q147 shape, period 3
    // offset 2, TFR marker)
    "q152_tfrecord_roundtrip" ->
      """WITH d AS (SELECT doc_id, (2 + doc_id % 3)::INT AS k,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, k, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |pj AS (SELECT doc_id, i % k AS j, string_agg(w, ' ' ORDER BY i) AS ptext
        |  FROM w GROUP BY doc_id, i % k),
        |jj AS (SELECT d.doc_id, d.k, j.j FROM d, unnest(range(d.k)) AS j(j)),
        |parts AS (SELECT jj.doc_id, jj.k, jj.j, coalesce(pj.ptext, '') AS ptext
        |  FROM jj LEFT JOIN pj ON pj.doc_id = jj.doc_id AND pj.j = jj.j),
        |agg AS (SELECT doc_id, any_value(k) AS k,
        |    string_agg(ptext, chr(10) ORDER BY j) AS ptxt,
        |    sum(strlen(ptext)) AS pbytes
        |  FROM parts GROUP BY doc_id)
        |SELECT doc_id, 'ok' AS status, (k + 1)::BIGINT AS n_records,
        |  0::BIGINT AS n_corrupt,
        |  (pbytes + strlen('TFR № ' || doc_id))::BIGINT AS n_bytes,
        |  sha256(ptxt || chr(10) || 'TFR № ' || doc_id) AS text_sha
        |FROM agg ORDER BY doc_id""".stripMargin,
    // EPUB extraction (q144): the Spark side builds a real OCF
    // container (stored mimetype first, container.xml -> OPF -> spine
    // REVERSED vs the manifest) and pushes spine-ordered chapter
    // markup through the q122 chain; the oracle replays blocks
    // (title, heading, modular word slice per chapter, reversed) from
    // pure (doc_id, text) arithmetic — any mimetype/spine/manifest/
    // escape slip changes counts or the sha
    "q144_epub_extract" ->
      """WITH d AS (SELECT doc_id, (2 + doc_id % 3)::INT AS nch,
        |    list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, nch, i, ws[i + 1] AS w
        |  FROM d, unnest(range(len(ws))) AS u(i)),
        |pj AS (SELECT doc_id, i % nch AS c, string_agg(w, ' ' ORDER BY i) AS ptext
        |  FROM w GROUP BY doc_id, i % nch),
        |cc AS (SELECT d.doc_id, d.nch, c.c FROM d, unnest(range(d.nch)) AS c(c)),
        |ch AS (SELECT cc.doc_id, cc.nch, cc.c, pj.ptext
        |  FROM cc LEFT JOIN pj ON pj.doc_id = cc.doc_id AND pj.c = cc.c),
        |bl AS (SELECT doc_id, nch, c,
        |    list_concat(['T' || c || ' doc ' || doc_id, 'Ch ' || c || ' of ' || doc_id],
        |      CASE WHEN coalesce(ptext, '') = '' THEN []::VARCHAR[] ELSE [ptext] END) AS bs
        |  FROM ch),
        |agg AS (SELECT doc_id, any_value(nch) AS nch,
        |    flatten(list(bs ORDER BY c DESC)) AS blocks
        |  FROM bl GROUP BY doc_id)
        |SELECT doc_id, 'ok' AS status, (3 + nch)::BIGINT AS n_entries,
        |  nch::BIGINT AS n_chapters, len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM agg ORDER BY doc_id""".stripMargin,
    // sitemap parsing (q145): the Spark side builds each host's real
    // sitemap tree (index root, gzip-alternating children, escaped
    // amps, W3C dates, omitted-priority branch) and parses it back;
    // the oracle replays every frontier column from doc_id arithmetic
    "q145_sitemap_parse" ->
      """WITH u AS (SELECT doc_id, doc_id % 8 AS h,
        |    (doc_id // 8) % (2 + (doc_id % 8) % 2) AS k,
        |    1 + doc_id % 12 AS mm, 1 + doc_id % 28 AS dd
        |  FROM documents),
        |r AS (SELECT doc_id, h, k,
        |    '2026-' || lpad(mm::VARCHAR, 2, '0') || '-' ||
        |      lpad(dd::VARCHAR, 2, '0') AS lastmod
        |  FROM u)
        |SELECT 'h' || h || '.example.test' AS host,
        |  'https://h' || h || '.example.test/doc/' || doc_id || '&ref=sm' AS loc,
        |  lastmod,
        |  (CAST(lastmod AS DATE) - DATE '1970-01-01')::BIGINT AS lastmod_day,
        |  (CASE WHEN doc_id % 5 = 0 THEN 5 ELSE doc_id % 10 END)::BIGINT
        |    AS priority_tenths,
        |  'sitemap_' || k ||
        |    CASE WHEN (h + k) % 2 = 0 THEN '.xml.gz' ELSE '.xml' END AS sitemap,
        |  (h + k) % 2 = 0 AS gz
        |FROM r ORDER BY host, loc""".stripMargin,
    // metadata + outlink extraction (q150): head fields entity-decoded
    // through the shared chain, anchors filtered to absolute http(s)
    // and pushed through the q129 canonicalizer; every column replayed
    // from (doc_id, lang) arithmetic with both canonical outlinks
    // under the sha
    "q150_meta_extract" ->
      """WITH c AS (SELECT doc_id, lang,
        |    'https://example.test/doc/' || (doc_id % 50) || '/?x=' ||
        |      (doc_id % 7) || '&y=' || (doc_id % 3) AS canonical,
        |    'https://h' || (doc_id % 8) || '.example.test/p/' ||
        |      ((doc_id + 1) % 25) || '?a=' || (doc_id % 5) || '&b=' ||
        |      (doc_id % 2) AS l1,
        |    'https://h' || ((doc_id + 3) % 8) || '.example.test/item/' ||
        |      ((doc_id * 3) % 100) AS l2
        |  FROM documents)
        |SELECT doc_id, lang AS lang_attr,
        |  'Title & ' || doc_id AS title,
        |  'Desc "of" ' || doc_id AS description,
        |  'OG — ' || doc_id AS og_title,
        |  canonical, 2::BIGINT AS n_links,
        |  sha256(l1 || chr(10) || l2) AS links_sha
        |FROM c ORDER BY doc_id""".stripMargin,
    // JSON-LD extraction (q151): typed ld+json blocks past a decoy and
    // a plain script, nested schema.org fields via native JSON paths;
    // the escaped-quote headline, epoch day, author, and word count
    // all replayed from doc_id arithmetic
    "q151_jsonld_extract" ->
      """SELECT doc_id, 2::BIGINT AS n_ld,
        |  'Story "' || doc_id || '"' AS headline,
        |  (make_date(2026, (doc_id % 12 + 1)::INT, (doc_id % 28 + 1)::INT) -
        |    DATE '1970-01-01')::BIGINT AS pub_day,
        |  'Author ' || (doc_id % 20) AS author_name,
        |  (doc_id % 1000)::BIGINT AS word_count
        |FROM documents ORDER BY doc_id""".stripMargin,
    // feed parsing (q149): each host's real RSS 2.0 (even) or Atom
    // (odd) feed — CDATA vs escaped titles, attribute vs element links,
    // RFC 822 vs ISO dates, feed-level decoys — parsed back to one
    // frontier schema; every column replayed from doc_id arithmetic
    "q149_feed_parse" ->
      """WITH u AS (SELECT doc_id, doc_id % 8 AS h,
        |    (1 + doc_id % 12)::INT AS mm, (1 + doc_id % 28)::INT AS dd,
        |    doc_id % 24 AS hh
        |  FROM documents)
        |SELECT doc_id AS item_id, 'h' || h || '.example.test' AS host,
        |  CASE WHEN h % 2 = 0 THEN 'rss' ELSE 'atom' END AS fmt,
        |  'https://h' || h || '.example.test/item/' || doc_id ||
        |    '?id=' || doc_id || '&ref=feed' AS url,
        |  'Item <' || doc_id || '> & raw' AS title,
        |  (make_date(2026, mm, dd) - DATE '1970-01-01')::BIGINT AS pub_day,
        |  hh::BIGINT AS pub_hour
        |FROM u ORDER BY item_id""".stripMargin,
    // CDX index generation (q146): the oracle REBUILDS every WARC
    // record's octets (markup + HTTP envelope + dated WARC headers)
    // and replays urlkey (SURT), the collapsed 14-digit timestamp,
    // the body digest, and the offset/length prefix sums — a one-byte
    // walk slip anywhere in any header fails the compare
    "q146_cdx_index" -> (htmlExtractCtes() +
      """, crlf AS (SELECT chr(13) || chr(10) AS c),
        |rec AS (SELECT h.doc_id, h.doc_id % 8 AS gid, h.html,
        |    'https://example.test/doc/' || h.doc_id AS url,
        |    '2026-' || lpad(((h.doc_id % 12) + 1)::VARCHAR, 2, '0') || '-' ||
        |      lpad(((h.doc_id % 28) + 1)::VARCHAR, 2, '0') || 'T' ||
        |      lpad((h.doc_id % 24)::VARCHAR, 2, '0') || ':00:00Z' AS wdate,
        |    'HTTP/1.1 200 OK' || c || 'Content-Type: text/html' || c || c ||
        |      h.html AS http
        |  FROM h, crlf),
        |rec2 AS (SELECT doc_id, gid, url, html,
        |    'WARC/1.0' || c || 'WARC-Type: response' || c ||
        |      'WARC-Target-URI: ' || url || c || 'WARC-Date: ' || wdate || c ||
        |      'Content-Length: ' || strlen(http) || c || c ||
        |      http || c || c AS rectext
        |  FROM rec, crlf),
        |o AS (SELECT doc_id, gid, url, html,
        |    strlen(rectext) AS len,
        |    coalesce(sum(strlen(rectext)) OVER (PARTITION BY gid
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS ofs
        |  FROM rec2)
        |SELECT 'test,example)/doc/' || doc_id AS urlkey,
        |  '2026' || lpad(((doc_id % 12) + 1)::VARCHAR, 2, '0') ||
        |    lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') ||
        |    lpad((doc_id % 24)::VARCHAR, 2, '0') || '0000' AS ts,
        |  url, 'text/html' AS mime, 200::BIGINT AS status,
        |  sha256(html) AS digest, ofs::BIGINT AS "offset",
        |  len::BIGINT AS "length", 'crawl_' || gid || '.warc' AS filename
        |FROM o ORDER BY filename, "offset"""".stripMargin),
    "q139_warc_http_extract" -> (htmlExtractCtes() +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  CASE WHEN doc_id % 20 = 19 THEN 'unsupported:compress'
        |    WHEN doc_id % 20 = 9 THEN 'zstd'
        |    WHEN doc_id % 10 = 4 THEN 'br'
        |    WHEN doc_id % 5 = 0 THEN 'identity'
        |    WHEN doc_id % 5 = 1 THEN 'chunked'
        |    WHEN doc_id % 5 = 2 THEN 'chunked,gzip'
        |    ELSE 'deflate' END AS enc,
        |  (CASE WHEN doc_id % 20 = 19 THEN 0 ELSE len(blocks) END)::BIGINT
        |    AS n_blocks,
        |  CASE WHEN doc_id % 20 = 19 THEN sha256('')
        |    ELSE sha256(array_to_string(blocks, chr(10))) END AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // PDF text extraction (q136): the Spark side builds a real two-page
    // PDF per document (xref table, Flate + plain content streams,
    // escape classes, and a /F2 font whose /Differences AGL names and
    // /ToUnicode bfrange/bfchar decode a planted non-ASCII line — the
    // bfchar shown as a HEX string), walks it, inflates, extracts
    // BT/ET text; the oracle replays the EXPECTED assembled text
    // straight from (doc_id, text) with the same word-split
    // arithmetic — the encode->decode collapse: any
    // xref/Length/inflate/escape/font-table slip changes status or
    // the sha
    "q136_pdf_extract" ->
      """WITH p AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |q AS (SELECT doc_id, (len(ws) + 1) // 2 AS na, ws FROM p),
        |t AS (SELECT doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |    array_to_string(list_slice(ws, 1, na::INT), ' ') || chr(10) ||
        |    array_to_string(list_slice(ws, (na + 1)::INT, len(ws)), ' ') ||
        |    chr(10) || 'Tail (' || doc_id || ') \ AB end' ||
        |    chr(10) || 'éè€Ł ΔΕΖΗ ❤' AS text
        |  FROM q)
        |SELECT doc_id, 'ok' AS status, 2::BIGINT AS n_pages,
        |  2::BIGINT AS n_streams, sha256(text) AS text_sha
        |FROM t ORDER BY doc_id""".stripMargin,
    // PDF 1.5 xref/object streams (q140): the q136 contract over the
    // modern-writer layout — /Type /XRef binary rows + /Type /ObjStm
    // packed dicts; the resolution machinery collapses out, only the
    // page-2 marker differs
    "q140_pdf_xref_stream" ->
      """WITH p AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |q AS (SELECT doc_id, (len(ws) + 1) // 2 AS na, ws FROM p),
        |t AS (SELECT doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |    array_to_string(list_slice(ws, 1, na::INT), ' ') || chr(10) ||
        |    array_to_string(list_slice(ws, (na + 1)::INT, len(ws)), ' ') ||
        |    chr(10) || 'XRef (' || doc_id || ') \ AB end' AS text
        |  FROM q)
        |SELECT doc_id, 'ok' AS status, 2::BIGINT AS n_pages,
        |  2::BIGINT AS n_streams, sha256(text) AS text_sha
        |FROM t ORDER BY doc_id""".stripMargin,
    // robots.txt gate (q141): per-URL verdict + winning rule replayed
    // from the planted per-host rule arithmetic — group selection (the
    // foreign deny-all decoy must not apply), prefix/override/wildcard/
    // anchor matching, and the longest-match tie-break all collapse
    // into hash-visible columns
    "q141_robots_gate" ->
      """WITH u AS (SELECT doc_id, doc_id % 8 AS h, doc_id % 6 AS m,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/p/' || (doc_id % 8) || '/page'
        |      WHEN 1 THEN '/p/' || (doc_id % 8) || '/ok/deep'
        |      WHEN 2 THEN '/free/' || (doc_id % 25)
        |      WHEN 3 THEN '/q/' || (doc_id % 9) || '/x'
        |      WHEN 4 THEN '/r/only'
        |      ELSE '/r/only/sub' END AS path
        |  FROM documents)
        |SELECT doc_id, 'h' || h || '.example.test' AS host, path,
        |  (m = 1 OR m = 2 OR m = 4) AS allowed,
        |  CASE m WHEN 0 THEN '/p/' || h
        |         WHEN 1 THEN '/p/' || h || '/ok'
        |         WHEN 2 THEN ''
        |         WHEN 3 THEN '/q/*/x'
        |         WHEN 4 THEN '/r/only$'
        |         ELSE '/r/' END AS rule
        |FROM u ORDER BY doc_id""".stripMargin,
    // MP4 / ISO-BMFF container walk (q137): the Spark side builds a
    // real two-chunk MP4 per document and resolves stsc/stsz/stco to
    // every sample's bytes; the oracle replays counts, duration, and
    // the payload sha from the pure (doc_id, sample, byte) geometry —
    // the container walk collapses out entirely
    "q137_mp4_extract" ->
      """WITH d AS (SELECT doc_id, (4 + doc_id % 9)::INT AS n FROM documents),
        |sz AS (SELECT doc_id, n, i,
        |    (16 + (doc_id * 7 + i * 13) % 48)::BIGINT AS size
        |  FROM d, unnest(range(n)) t(i)),
        |sh AS (SELECT doc_id, i, size, array_to_string(
        |    list_transform(range(size),
        |      j -> upper(lpad(to_hex((doc_id + 31 * i + j) % 256), 2, '0'))),
        |    '') AS hx
        |  FROM sz)
        |SELECT doc_id, 'ok' AS status, 1::BIGINT AS n_tracks,
        |  'vide' AS handler, max(i + 1)::BIGINT AS n_samples,
        |  2::BIGINT AS n_chunks, sum(size)::BIGINT AS sum_sizes,
        |  (max(i + 1) * 100)::BIGINT AS duration,
        |  sha256(array_to_string(list(hx ORDER BY i), '')) AS payload_sha
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // lossy WebP / VP8 key-frame decode (q138): the DC-exact corpus —
    // per-MB residue 2*raw_i chains through left-to-right DC
    // prediction, so every channel sum is a replayed prefix-sum; the
    // whole bool-coder/token/WHT/DCT/prediction pipeline collapses out
    "q138_vp8_decode" ->
      """WITH d AS (SELECT doc_id, (2 + doc_id % 6)::INT AS k FROM documents),
        |m AS (SELECT doc_id, k, i,
        |    CASE WHEN (doc_id + i) % 4 = 0 THEN 0
        |         ELSE ((doc_id + 13 * i) % 15) - 7 END AS r
        |  FROM d, unnest(range(k)) t(i)),
        |v AS (SELECT doc_id, k, i,
        |    128 + 2 * sum(r) OVER (PARTITION BY doc_id ORDER BY i) AS v
        |  FROM m)
        |SELECT doc_id, (16 * max(k))::BIGINT AS width, 16::BIGINT AS height,
        |  (sum(v) * 256)::BIGINT AS sum_b,
        |  (sum(v) * 256)::BIGINT AS sum_g,
        |  (sum(v) * 256)::BIGINT AS sum_r
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // MP4 container near-dup (q171): real containers walk to their
    // samples (stsc/stsz/stco + co64 on odd ids), each opaque sample
    // signatures as a 16-bin byte histogram (decoder-free), and the
    // q133 digest equi-join pairs same-group containers on their
    // planted shared 5-sample run — same Σdf² bound
    "q171_mp4_neardup" ->
      """WITH v AS (SELECT doc_id AS vid, doc_id - doc_id % 21 AS grp,
        |    (6 + doc_id % 5)::INT AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT vid, i,
        |    CASE WHEN i < 5 THEN (grp*5 + 29*i) % 256
        |      ELSE (vid*7 + 31*i) % 256 END AS c,
        |    CASE WHEN i < 5 THEN (grp*9 + 47*i) % 256
        |      ELSE (vid*11 + 53*i) % 256 END AS d,
        |    CASE WHEN i < 5 THEN 24 + (grp + i) % 16
        |      ELSE 24 + (vid + i) % 16 END AS l
        |  FROM v, unnest(range(n)) t(i)),
        |sg AS (SELECT vid, i, array_to_string(
        |    list_transform(range(16), b ->
        |      (CASE WHEN b = c // 16 THEN (l + 1) // 2 ELSE 0 END) +
        |      (CASE WHEN b = d // 16 THEN l // 2 ELSE 0 END)), ':') AS sig
        |  FROM smp),
        |sq AS (SELECT vid, list(sig ORDER BY i) AS s FROM sg GROUP BY vid),
        |sh AS (SELECT DISTINCT vid,
        |    md5(array_to_string(s[(i + 1)::INT : (i + 3)::INT], '|')) AS sh
        |  FROM sq, unnest(range(len(s) - 2)) t(i)),
        |dfc AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1) q
        |  WHERE df <= 32),
        |r AS (SELECT s.vid, s.sh FROM sh s JOIN dfc USING (sh))
        |SELECT a.vid AS vid_a, b.vid AS vid_b, count(*)::BIGINT AS n_shared
        |FROM r a JOIN r b ON a.sh = b.sh AND a.vid < b.vid
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin,
    // language identification (q170): char-trigram hashed-NB over a
    // constructed six-language corpus (four Latin-script languages
    // plus Cyrillic and Greek, so scripts alone can't answer); trained
    // on the doc_id%4!=1 split, predicted over ALL docs — the gate is
    // exact agreement with the planted labels, held-out quarter
    // included
    "q170_langid" ->
      """SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'de' WHEN 1 THEN 'el'
        |    WHEN 2 THEN 'en' WHEN 3 THEN 'es' WHEN 4 THEN 'fr'
        |    ELSE 'ru' END AS true_lang,
        |  CASE doc_id % 6 WHEN 0 THEN 'de' WHEN 1 THEN 'el'
        |    WHEN 2 THEN 'en' WHEN 3 THEN 'es' WHEN 4 THEN 'fr'
        |    ELSE 'ru' END AS pred_lang,
        |  (doc_id % 4 != 1) AS is_train,
        |  30::BIGINT AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    // coding loss accounting (q184): per-content-coding record counts
    // and TYPED losses over the q139 corpus — the dropped-document
    // share of each coding measured, not invisible (one output-sized
    // rollup)
    "q184_coding_report" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 19 THEN 'unsupported:compress'
        |      WHEN doc_id % 20 = 9 THEN 'zstd'
        |      WHEN doc_id % 10 = 4 THEN 'br'
        |      WHEN doc_id % 5 = 0 THEN 'identity'
        |      WHEN doc_id % 5 = 1 THEN 'chunked'
        |      WHEN doc_id % 5 = 2 THEN 'chunked,gzip'
        |      ELSE 'deflate' END AS enc
        |  FROM documents)
        |SELECT enc, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN enc LIKE 'unsupported:%' THEN 1 ELSE 0 END)::BIGINT
        |    AS n_lost
        |FROM d GROUP BY enc ORDER BY enc""".stripMargin,
    // audio container near-dup (q183): Ogg packets and MP3 frame
    // payloads carry IDENTICAL two-tone blobs (the q171 arithmetic at
    // the 92/116/140-byte lengths the 48kHz MPEG-1 frame cells hold),
    // so same-group assets pair ACROSS the container split on their
    // shared 5-payload run — the q133 digest equi-join, same Σdf² bound
    "q183_audio_neardup" ->
      """WITH v AS (SELECT doc_id AS vid, doc_id - doc_id % 21 AS grp,
        |    (6 + doc_id % 5)::INT AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |smp AS (SELECT vid, i,
        |    CASE WHEN i < 5 THEN (grp*5 + 29*i) % 256
        |      ELSE (vid*7 + 31*i) % 256 END AS c,
        |    CASE WHEN i < 5 THEN (grp*9 + 47*i) % 256
        |      ELSE (vid*11 + 53*i) % 256 END AS d,
        |    CASE WHEN i < 5 THEN 92 + 24 * ((grp + i) % 3)
        |      ELSE 92 + 24 * ((vid + i) % 3) END AS l
        |  FROM v, unnest(range(n)) t(i)),
        |sg AS (SELECT vid, i, array_to_string(
        |    list_transform(range(16), b ->
        |      (CASE WHEN b = c // 16 THEN (l + 1) // 2 ELSE 0 END) +
        |      (CASE WHEN b = d // 16 THEN l // 2 ELSE 0 END)), ':') AS sig
        |  FROM smp),
        |sq AS (SELECT vid, list(sig ORDER BY i) AS s FROM sg GROUP BY vid),
        |sh AS (SELECT DISTINCT vid,
        |    md5(array_to_string(s[(i + 1)::INT : (i + 3)::INT], '|')) AS sh
        |  FROM sq, unnest(range(len(s) - 2)) t(i)),
        |dfc AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1) q
        |  WHERE df <= 32),
        |r AS (SELECT s.vid, s.sh FROM sh s JOIN dfc USING (sh))
        |SELECT a.vid AS vid_a, b.vid AS vid_b, count(*)::BIGINT AS n_shared
        |FROM r a JOIN r b ON a.sh = b.sh AND a.vid < b.vid
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin,
    // span corruption (q194): the T5/UL2 denoising-objective data prep
    // - deterministic 2-token spans at every 7th position from 3 cut
    // into sentinel-marked input/target pairs; both strings rebuilt by
    // the oracle from string_split + list arithmetic, so a span
    // boundary, sentinel ordinal, or truncated-last-span slip shifts a
    // sha
    "q194_span_corruption" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, ws, len(ws)::INT AS n,
        |    ((len(ws) + 3) // 7)::INT AS nspans FROM t),
        |inp AS (SELECT doc_id, array_to_string(
        |    list_filter(
        |      list_transform(range(n), p ->
        |        CASE WHEN p % 7 = 3
        |          THEN '<extra_id_' || ((p - 3) // 7) || '>'
        |          WHEN p % 7 = 4 THEN NULL
        |          ELSE ws[(p + 1)::INT] END),
        |      x -> x IS NOT NULL), ' ') AS input_txt
        |  FROM d),
        |tgt AS (SELECT doc_id,
        |    CASE WHEN nspans > 0 THEN
        |      array_to_string(list_transform(range(nspans), i ->
        |        '<extra_id_' || i || '> ' ||
        |        CASE WHEN i * 7 + 5 <= n
        |          THEN ws[(i*7 + 4)::INT] || ' ' || ws[(i*7 + 5)::INT]
        |          ELSE ws[(i*7 + 4)::INT] END), ' ') ||
        |      ' <extra_id_' || nspans || '>'
        |    ELSE '' END AS target_txt
        |  FROM d)
        |SELECT d.doc_id, n::BIGINT AS n_tokens, nspans::BIGINT AS n_spans,
        |  ((n + 3) // 7 + (n + 2) // 7)::BIGINT AS n_masked,
        |  sha256(input_txt) AS input_sha, sha256(target_txt) AS target_sha
        |FROM d JOIN inp USING (doc_id) JOIN tgt USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // PNG depth + alpha forms (q193): 1-bit gray (levels scale 255),
    // Adam7 4-bit gray (scale 17), 16-bit gray and Adam7 16-bit
    // truecolor (high-byte reduction, the strip-16 convention), RGBA
    // (color kept / alpha dropped), Adam7 gray+alpha; sums recomputed
    // as pure (doc_id, x, y) arithmetic
    "q193_png_depth" ->
      """WITH d AS (SELECT doc_id, (doc_id % 6)::INT AS form,
        |    (8 + doc_id % 9)::INT AS w, (5 + doc_id % 7)::INT AS h
        |  FROM documents),
        |px AS (SELECT doc_id, form, w, h, x, y
        |  FROM d, unnest(range(w)) tx(x), unnest(range(h)) ty(y)),
        |v AS (SELECT doc_id, form, w, h,
        |    CASE WHEN form = 0 THEN 255 * ((x + y + doc_id) % 2)
        |      WHEN form = 1 THEN 17 * ((x + 2*y + doc_id) % 16)
        |      WHEN form = 2 THEN ((doc_id*131 + 29*x + 57*y) % 65536) // 256
        |      WHEN form = 3 THEN ((doc_id*7 + 13*x + 31*y) % 65536) // 256
        |      WHEN form = 4 THEN (doc_id + 3*x + 7*y) % 256
        |      ELSE (doc_id + 11*x + 13*y) % 256 END AS r,
        |    CASE WHEN form = 0 THEN 255 * ((x + y + doc_id) % 2)
        |      WHEN form = 1 THEN 17 * ((x + 2*y + doc_id) % 16)
        |      WHEN form = 2 THEN ((doc_id*131 + 29*x + 57*y) % 65536) // 256
        |      WHEN form = 3 THEN ((doc_id*3 + 5*x + 11*y) % 65536) // 256
        |      WHEN form = 4 THEN (2*doc_id + 5*x + y) % 256
        |      ELSE (doc_id + 11*x + 13*y) % 256 END AS g,
        |    CASE WHEN form = 0 THEN 255 * ((x + y + doc_id) % 2)
        |      WHEN form = 1 THEN 17 * ((x + 2*y + doc_id) % 16)
        |      WHEN form = 2 THEN ((doc_id*131 + 29*x + 57*y) % 65536) // 256
        |      WHEN form = 3 THEN ((x*y + doc_id) % 65536) // 256
        |      WHEN form = 4 THEN (x*y + doc_id) % 256
        |      ELSE (doc_id + 11*x + 13*y) % 256 END AS b
        |  FROM px)
        |SELECT doc_id,
        |  CASE any_value(form) WHEN 0 THEN 'gray1'
        |    WHEN 1 THEN 'gray4_adam7' WHEN 2 THEN 'gray16'
        |    WHEN 3 THEN 'rgb16_adam7' WHEN 4 THEN 'rgba8'
        |    ELSE 'graya8_adam7' END AS form,
        |  any_value(w)::BIGINT AS width, any_value(h)::BIGINT AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // CDX selective access over .warc.zst (q192): the q186 dict-bearing
    // archives indexed once (frame extents in a standing cdx-<fp>
    // artifact), then each record range-read by extent after one
    // dictionary read per archive - the replayer's actual access
    // pattern; identical oracle to q135/q185/q186, so an extent off by
    // a byte changes rows
    "q192_cdx_zst_fetch" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // seek-table selective access (q204): q195's shards carry an
    // EMBEDDED zstd-seekable-format index; each record range-reads by
    // its table extent (size + XXH64-low32 verified) after one table
    // and one dictionary read per archive — identical oracle to
    // q135/q192, so a wrong extent, size, or checksum changes rows
    "q204_seekable_fetch" -> (htmlExtractCtes(
      " ||\n    '<p>" + operators.WarcOps.Utf8Marker +
        "' || doc_id || '</p>'") +
      """SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  200::BIGINT AS status,
        |  len(blocks)::BIGINT AS n_blocks,
        |  sha256(array_to_string(blocks, chr(10))) AS text_sha
        |FROM b ORDER BY doc_id""".stripMargin),
    // DSIR-shaped importance scoring (q205): word bigrams hashed by
    // md5 nibbles into 4096 buckets, add-one-smoothed target/raw
    // likelihood ratio as an EXACT scaled integer (the q109 integer-
    // IDF discipline), above-mean selection by integer cross-product
    "q205_importance_sample" ->
      """WITH w0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |bi AS (SELECT doc_id, w[i + 1] || ' ' || w[i + 2] AS f
        |  FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM w0)),
        |fb AS (SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(f), 3, 1)) - 1) AS b
        |  FROM bi),
        |dc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM fb GROUP BY 1, 2),
        |bc AS (SELECT b, sum(c)::BIGINT AS cr,
        |    sum(CASE WHEN doc_id % 10 = 0 THEN c ELSE 0 END)::BIGINT AS ct
        |  FROM dc GROUP BY 1),
        |tot AS (SELECT sum(cr)::BIGINT AS r_tot, sum(ct)::BIGINT AS t_tot
        |  FROM bc),
        |wt AS (SELECT bc.b,
        |    (((bc.ct + 1)::HUGEINT * (tot.r_tot + 4096)::HUGEINT * 10000)
        |     // ((bc.cr + 1)::HUGEINT * (tot.t_tot + 4096)::HUGEINT))::BIGINT
        |      AS s
        |  FROM bc CROSS JOIN tot),
        |scored AS (SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_features,
        |    sum(dc.c * wt.s)::BIGINT AS imp_score
        |  FROM dc JOIN wt ON dc.b = wt.b GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS n_docs,
        |    sum(imp_score)::HUGEINT AS s_sum FROM scored)
        |SELECT d.doc_id, coalesce(s.n_features, 0)::BIGINT AS n_features,
        |  coalesce(s.imp_score, 0)::BIGINT AS imp_score,
        |  (coalesce(s.imp_score, 0)::HUGEINT * a.n_docs >= a.s_sum)
        |    AS selected
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |CROSS JOIN agg a
        |ORDER BY d.doc_id""".stripMargin,
    // compressed TIFF strips (q191): PackBits and early-change LZW
    // beside the uncompressed control, identical pixel grid — a
    // decompressor slip shifts pixel_sum against the grid replay
    "q191_tiff_compressed" ->
      """WITH g AS (SELECT doc_id, (8 + doc_id % 5)::INT AS w,
        |    (4 + doc_id % 3)::INT AS h
        |  FROM documents),
        |s1 AS (SELECT g.doc_id, sum((x.x + y.y + g.doc_id) % 251) AS s
        |  FROM g, unnest(range(g.w)) AS x(x), unnest(range(g.h)) AS y(y)
        |  GROUP BY g.doc_id),
        |s2 AS (SELECT doc_id, sum((x.x + y.y + doc_id) % 251) AS s
        |  FROM documents, unnest(range(4)) AS x(x), unnest(range(4)) AS y(y)
        |  WHERE doc_id % 3 = 0 GROUP BY doc_id)
        |SELECT g.doc_id, 'ok' AS status,
        |  CASE WHEN g.doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
        |  CASE g.doc_id % 3 WHEN 0 THEN 'packbits' WHEN 1 THEN 'lzw'
        |    ELSE 'none' END AS compression,
        |  (CASE WHEN g.doc_id % 3 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_pages,
        |  g.w::BIGINT AS width, g.h::BIGINT AS height,
        |  (s1.s + coalesce(s2.s, 0))::BIGINT AS pixel_sum,
        |  '2026:' || lpad((g.doc_id % 12 + 1)::VARCHAR, 2, '0') || ':' ||
        |    lpad((g.doc_id % 28 + 1)::VARCHAR, 2, '0') || ' ' ||
        |    lpad((g.doc_id % 24)::VARCHAR, 2, '0') || ':00:00' AS datetime
        |FROM g JOIN s1 USING (doc_id) LEFT JOIN s2 USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,
    // legacy PNG decode (q190): Adam7-interlaced truecolor/gray and
    // 8/4-bit palette forms (the old-web-corpus shapes) decoded to
    // exact per-channel pixel sums; the oracle recomputes every sum as
    // pure (doc_id, x, y) integer arithmetic — a pass-placement or
    // bit-unpacking slip shifts it
    "q190_png_legacy" ->
      """WITH d AS (SELECT doc_id, (doc_id % 4)::INT AS form,
        |    (8 + doc_id % 9)::INT AS w, (5 + doc_id % 7)::INT AS h
        |  FROM documents),
        |px AS (SELECT doc_id, form, w, h, x, y
        |  FROM d, unnest(range(w)) tx(x), unnest(range(h)) ty(y)),
        |v AS (SELECT doc_id, form, w, h,
        |    CASE WHEN form = 0 THEN (doc_id + 3*x + 7*y) % 256
        |      WHEN form = 1 THEN (doc_id + 11*x + 13*y) % 256
        |      ELSE (doc_id*3 + 5*((x + y + doc_id) % 16)) % 256 END AS r,
        |    CASE WHEN form = 0 THEN (2*doc_id + 5*x + y) % 256
        |      WHEN form = 1 THEN (doc_id + 11*x + 13*y) % 256
        |      ELSE (doc_id*7 + ((x + y + doc_id) % 16)) % 256 END AS g,
        |    CASE WHEN form = 0 THEN (x*y + doc_id) % 256
        |      WHEN form = 1 THEN (doc_id + 11*x + 13*y) % 256
        |      ELSE (2*((x + y + doc_id) % 16) + doc_id) % 256 END AS b
        |  FROM px)
        |SELECT doc_id,
        |  CASE any_value(form) WHEN 0 THEN 'rgb_adam7'
        |    WHEN 1 THEN 'gray_adam7' WHEN 2 THEN 'palette8'
        |    ELSE 'palette4_adam7' END AS form,
        |  any_value(w)::BIGINT AS width, any_value(h)::BIGINT AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // WAT round-trip (q189): metadata -> envelope-JSON metadata
    // records (one gzip member each, the production .wat.gz layout) ->
    // offset-driven walk -> from_json re-extraction; the q150 fields
    // and the canonical-outlink sha replayed from doc_id arithmetic so
    // a symmetric writer/reader bug cannot cancel (the q148 external
    // pin)
    "q189_wat_roundtrip" ->
      """WITH c AS (SELECT doc_id,
        |    'https://example.test/doc/' || (doc_id % 50) || '/?x=' ||
        |      (doc_id % 7) || '&y=' || (doc_id % 3) AS canonical,
        |    'https://h' || (doc_id % 8) || '.example.test/p/' ||
        |      ((doc_id + 1) % 25) || '?a=' || (doc_id % 5) || '&b=' ||
        |      (doc_id % 2) AS l1,
        |    'https://h' || ((doc_id + 3) % 8) || '.example.test/item/' ||
        |      ((doc_id * 3) % 100) AS l2
        |  FROM documents)
        |SELECT doc_id, 'https://example.test/doc/' || doc_id AS url,
        |  'Title & ' || doc_id AS title,
        |  'Desc "of" ' || doc_id AS description,
        |  'OG — ' || doc_id AS og_title,
        |  canonical, 2::BIGINT AS n_links,
        |  sha256(l1 || chr(10) || l2) AS links_sha
        |FROM c ORDER BY doc_id""".stripMargin,
    // XLSX extraction (q188): the spreadsheet front door — sheets
    // resolved through the rels part (rIds planted out of order),
    // shared strings joined by index (incl. a rich-text entry), date
    // serials rendered ISO via the styles table's numFmtId, booleans
    // TRUE/FALSE, column gaps skipped; counts and the
    // tab/newline-joined text sha replayed from doc_id arithmetic
    "q188_xlsx_extract" ->
      """WITH d AS (SELECT doc_id, (3 + doc_id % 5)::INT AS n FROM documents),
        |r AS (SELECT doc_id, n, i AS j FROM d, unnest(range(n)) t(i)),
        |rw AS (SELECT doc_id, n, j,
        |    'Item ' || doc_id || '-' || j || chr(9) ||
        |    ((doc_id*31 + j*7) % 1000) ||
        |    (CASE WHEN j % 3 <> 0 THEN chr(9) || 'inline &' || j
        |      ELSE '' END) ||
        |    chr(9) ||
        |    ((CASE WHEN doc_id % 5 = 0 THEN DATE '1904-01-01'
        |      ELSE DATE '1899-12-30' END) +
        |      (40000 + (doc_id + j) % 2000)::INT)::VARCHAR ||
        |    chr(9) ||
        |    (CASE WHEN (doc_id + j) % 2 = 0 THEN 'FALSE' ELSE 'TRUE' END) ||
        |    chr(9) || 'Common ' || (doc_id % 7) AS s
        |  FROM r),
        |agg AS (SELECT doc_id, any_value(n) AS n,
        |    string_agg(s, chr(10) ORDER BY j) || chr(10) ||
        |      'Doc' || chr(9) || doc_id AS text,
        |    sum(CASE WHEN j % 3 <> 0 THEN 6 ELSE 5 END) AS datacells
        |  FROM rw GROUP BY doc_id)
        |SELECT doc_id, 'ok' AS status, 8::BIGINT AS n_entries,
        |  2::BIGINT AS n_sheets, (n + 1)::BIGINT AS n_rows,
        |  (datacells + 2)::BIGINT AS n_cells, (n + 2)::BIGINT AS n_shared,
        |  sha256(text) AS text_sha
        |FROM agg ORDER BY doc_id""".stripMargin,
    // cross-codec audio near-dup at the SAMPLE grain (q187): FLAC
    // (real RFC 9639 decode — predictors, Rice residuals, CRCs) and
    // WAV of the same recording converge on identical PCM; uniform
    // 128-sample windows histogram by high nibble and pair through the
    // shared shingle/df machinery — the oracle replays every window
    // from the (doc_id, window) step arithmetic (duty k from c to d)
    "q187_pcm_neardup" ->
      """WITH v AS (SELECT doc_id AS vid, doc_id - doc_id % 21 AS grp,
        |    (6 + doc_id % 5)::INT AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT vid, i,
        |    CASE WHEN i < 5 THEN (grp*5 + 29*i) % 256
        |      ELSE (vid*7 + 31*i) % 256 END AS c,
        |    CASE WHEN i < 5 THEN (grp*9 + 47*i) % 256
        |      ELSE (vid*11 + 53*i) % 256 END AS d,
        |    CASE WHEN i < 5 THEN 32 + (grp*13 + 7*i) % 64
        |      ELSE 32 + (vid*13 + 7*i) % 64 END AS k
        |  FROM v, unnest(range(n)) t(i)),
        |sg AS (SELECT vid, i, array_to_string(
        |    list_transform(range(16), b ->
        |      (CASE WHEN b = c // 16 THEN k ELSE 0 END) +
        |      (CASE WHEN b = d // 16 THEN 128 - k ELSE 0 END)), ':') AS sig
        |  FROM smp),
        |sq AS (SELECT vid, list(sig ORDER BY i) AS s FROM sg GROUP BY vid),
        |sh AS (SELECT DISTINCT vid,
        |    md5(array_to_string(s[(i + 1)::INT : (i + 3)::INT], '|')) AS sh
        |  FROM sq, unnest(range(len(s) - 2)) t(i)),
        |dfc AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1) q
        |  WHERE df <= 32),
        |r AS (SELECT s.vid, s.sh FROM sh s JOIN dfc USING (sh))
        |SELECT a.vid AS vid_a, b.vid AS vid_b, count(*)::BIGINT AS n_shared
        |FROM r a JOIN r b ON a.sh = b.sh AND a.vid < b.vid
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin,
    // timed frontier politeness (q182): the q154 schedule by TIME —
    // each host's k-th allowed URL fetches at (k-1) x its robots
    // group's Crawl-delay (planted 1 + h % 3; the foreign group's 99 s
    // is a decoy), waves become 60-second time bands; a delay-parse,
    // group-selection, or band slip changes rows
    "q182_frontier_timing" ->
      """WITH u AS (SELECT doc_id, doc_id % 8 AS h,
        |    (make_date(2026, (doc_id % 12 + 1)::INT, (doc_id % 28 + 1)::INT) -
        |      DATE '1970-01-01') AS lastmod_day,
        |    CASE WHEN doc_id % 5 = 0 THEN 5 ELSE doc_id % 10 END
        |      AS priority_tenths
        |  FROM documents),
        |g AS (SELECT doc_id, h, lastmod_day, priority_tenths,
        |    NOT (doc_id % 10 = 3 OR (h % 2 = 1 AND doc_id % 10 = 7)) AS allowed,
        |    CASE WHEN doc_id % 10 = 3 THEN '/doc/*3$'
        |      WHEN h % 2 = 1 AND doc_id % 10 = 7 THEN '/doc/*7$'
        |      ELSE '/doc/' END AS rule,
        |    max(lastmod_day) OVER (PARTITION BY h) - lastmod_day AS fresh_lag
        |  FROM u),
        |r AS (SELECT *, row_number() OVER (PARTITION BY h, allowed
        |    ORDER BY priority_tenths DESC, lastmod_day DESC, doc_id) AS rn
        |  FROM g)
        |SELECT doc_id, 'h' || h || '.example.test' AS host,
        |  '/doc/' || doc_id AS path, allowed, rule,
        |  lastmod_day::BIGINT AS lastmod_day,
        |  priority_tenths::BIGINT AS priority_tenths,
        |  fresh_lag::BIGINT AS fresh_lag,
        |  (CASE WHEN allowed THEN rn ELSE -1 END)::BIGINT AS crawl_rank,
        |  (1 + h % 3)::BIGINT AS crawl_delay,
        |  (CASE WHEN allowed THEN (rn - 1) * (1 + h % 3) ELSE -1 END)::BIGINT
        |    AS fetch_at_s,
        |  (CASE WHEN allowed THEN (rn - 1) * (1 + h % 3) // 60 + 1
        |    ELSE -1 END)::BIGINT AS time_wave
        |FROM r ORDER BY doc_id""".stripMargin,
    // PDF CID fonts (q181): the q136 corpus plus an Identity-H Type0
    // font per document whose 2-byte /ToUnicode CMap (2-byte
    // codespace, contiguous + ARRAY-form bfrange, wide bfchars)
    // decodes a planted CJK line shown as one hex string — the
    // professional-writer layout for CJK text; the oracle appends the
    // constant decoded line under the same sha
    "q181_pdf_cid" ->
      """WITH p AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |q AS (SELECT doc_id, (len(ws) + 1) // 2 AS na, ws FROM p),
        |t AS (SELECT doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |    array_to_string(list_slice(ws, 1, na::INT), ' ') || chr(10) ||
        |    array_to_string(list_slice(ws, (na + 1)::INT, len(ws)), ' ') ||
        |    chr(10) || 'Tail (' || doc_id || ') \ AB end' ||
        |    chr(10) || 'éè€Ł ΔΕΖΗ ❤' ||
        |    chr(10) || '一丁丂七 日本語 あ' AS text
        |  FROM q)
        |SELECT doc_id, 'ok' AS status, 2::BIGINT AS n_pages,
        |  2::BIGINT AS n_streams, sha256(text) AS text_sha
        |FROM t ORDER BY doc_id""".stripMargin,
    // language identification with abstention (q180): twelve trained
    // languages on the doc_id % 14 axis plus two planted OUT-OF-MODEL
    // languages (fi/eo) that must land the calibrated 'und' verdict
    // (top-two margin per trigram under 1.0 nats abstains; measured
    // gap: in-model >= 1.81, out-of-model <= 0.19)
    "q180_langid_und" ->
      """SELECT doc_id,
        |  CASE doc_id % 14 WHEN 0 THEN 'de' WHEN 1 THEN 'el'
        |    WHEN 2 THEN 'en' WHEN 3 THEN 'es' WHEN 4 THEN 'fr'
        |    WHEN 5 THEN 'it' WHEN 6 THEN 'nl' WHEN 7 THEN 'pl'
        |    WHEN 8 THEN 'pt' WHEN 9 THEN 'ru' WHEN 10 THEN 'sv'
        |    WHEN 11 THEN 'tr' ELSE 'und' END AS true_lang,
        |  CASE doc_id % 14 WHEN 0 THEN 'de' WHEN 1 THEN 'el'
        |    WHEN 2 THEN 'en' WHEN 3 THEN 'es' WHEN 4 THEN 'fr'
        |    WHEN 5 THEN 'it' WHEN 6 THEN 'nl' WHEN 7 THEN 'pl'
        |    WHEN 8 THEN 'pt' WHEN 9 THEN 'ru' WHEN 10 THEN 'sv'
        |    WHEN 11 THEN 'tr' ELSE 'und' END AS pred_lang,
        |  (doc_id % 14 < 12 AND doc_id % 4 != 1) AS is_train
        |FROM documents ORDER BY doc_id""".stripMargin,
    // VP8 B_PRED decode (q168): the q138 strip with all-TM 4×4
    // macroblocks carrying one DC residual in subblock (3,3) — rows
    // 12-15 accumulate the m_i prefix sums, everything else stays v0;
    // any sub-mode tree/context/prediction/type-3-token slip shifts
    // the closed-form sums
    "q168_vp8_bpred" ->
      """WITH d AS (SELECT doc_id, (2 + doc_id % 6)::INT AS k,
        |    128 + 2 * ((doc_id % 15) - 7) AS v0 FROM documents),
        |m AS (SELECT doc_id, k, v0, i,
        |    ((doc_id + 7 * i) % 9) - 4 AS m
        |  FROM d, unnest(range(k)) t(i) WHERE i >= 1),
        |s AS (SELECT doc_id, k, v0, i,
        |    sum(m) OVER (PARTITION BY doc_id ORDER BY i) AS sc
        |  FROM m),
        |g AS (SELECT doc_id, k, v0, i, sc,
        |    coalesce(lag(sc) OVER (PARTITION BY doc_id ORDER BY i), 0) AS sp
        |  FROM s)
        |SELECT doc_id, (16 * k)::BIGINT AS width, 16::BIGINT AS height,
        |  (256 * v0 * k + sum(48 * sp + 16 * sc))::BIGINT AS sum_b,
        |  (256 * v0 * k + sum(48 * sp + 16 * sc))::BIGINT AS sum_g,
        |  (256 * v0 * k + sum(48 * sp + 16 * sc))::BIGINT AS sum_r
        |FROM g GROUP BY doc_id, k, v0 ORDER BY doc_id""".stripMargin,
    // VP8 loop filter (q169): the q138 DC strip at filter level
    // 1 + id%63 — the §15.3 mb-edge filter's mask and tap deltas are
    // closed-form on flat MBs; the index-weighted row-0 sum is
    // filter-sensitive (a plain sum cancels: the filter conserves p+q)
    "q169_vp8_loop_filter" ->
      """WITH d AS (SELECT doc_id, (2 + doc_id % 6)::INT AS k,
        |    (1 + doc_id % 63)::INT AS L FROM documents),
        |m AS (SELECT doc_id, k, L, i,
        |    ((doc_id + 13 * i) % 15) - 7 AS r
        |  FROM d, unnest(range(k)) t(i)),
        |v AS (SELECT doc_id, k, L, i,
        |    128 + 2 * sum(r) OVER (PARTITION BY doc_id ORDER BY i) AS v
        |  FROM m),
        |e AS (SELECT doc_id, k, L, i, v,
        |    v - lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS t
        |  FROM v),
        |f AS (SELECT doc_id, k, L, i, v,
        |    CASE WHEN t IS NULL OR 2 * abs(t) + abs(t) // 2 > 3 * L + 4 THEN 0
        |      ELSE floor((54 * t + 63) / 128.0) + floor((36 * t + 63) / 128.0)
        |        + floor((18 * t + 63) / 128.0) END AS F
        |  FROM e)
        |SELECT doc_id, (16 * k)::BIGINT AS width, 16::BIGINT AS height,
        |  L::BIGINT AS flevel,
        |  (sum((i + 1) * 16 * v) - sum(F))::BIGINT AS wsum
        |FROM f GROUP BY doc_id, k, L ORDER BY doc_id""".stripMargin,
    // persisted IVF-PQ index (q120): q38's storage-parity treatment for
    // the compressed tier — every count training-deterministic and pinned
    "q120_ivf_pq_indexed" ->
      """SELECT vec_id AS query_id, 10::BIGINT AS n_idx, 10::BIGINT AS n_exh,
        |  10::BIGINT AS n_agree
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // windowed audio features (q118): per-16-sample energy / zero
    // crossings / peak replayed from the tone formula
    "q118_audio_windows" ->
      """WITH d AS (SELECT doc_id AS asset_id, (64 + doc_id % 128)::BIGINT AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |smp AS (SELECT asset_id, i,
        |    ((asset_id * 31 + i * 7) % 65536) - 32768 AS s
        |  FROM d, unnest(range(d.n)) AS t(i)),
        |w AS (SELECT asset_id, i // 16 AS win_idx, i, s,
        |    lag(s) OVER (PARTITION BY asset_id, i // 16 ORDER BY i) AS prev
        |  FROM smp)
        |SELECT asset_id, win_idx, count(*)::BIGINT AS n_samples,
        |  sum(s * s)::BIGINT AS energy,
        |  sum(CASE WHEN prev IS NOT NULL AND ((s >= 0) <> (prev >= 0))
        |    THEN 1 ELSE 0 END)::BIGINT AS n_zero_cross,
        |  max(abs(s))::BIGINT AS peak
        |FROM w GROUP BY 1, 2 ORDER BY asset_id, win_idx""".stripMargin,
    // shot detection (q119): adjacent-frame channel-sum diffs on the
    // constant-fill corpus are pure (doc_id, f) arithmetic
    "q119_shot_detect" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 8)::BIGINT AS w, (6 + (doc_id * 3) % 8)::BIGINT AS h,
        |    (2 + doc_id % 4)::BIGINT AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT asset_id, w * h AS np, fi,
        |    (asset_id + 11 * fi) % 256 AS b,
        |    (asset_id * 7 + 17 * fi) % 256 AS g,
        |    (asset_id * 13 + 23 * fi) % 256 AS r
        |  FROM d, unnest(range(d.nf)) AS t(fi))
        |SELECT c.asset_id, c.fi AS frame_idx, c.np AS n_pixels,
        |  (abs(c.b - p.b) * c.np)::BIGINT AS diff_b,
        |  (abs(c.g - p.g) * c.np)::BIGINT AS diff_g,
        |  (abs(c.r - p.r) * c.np)::BIGINT AS diff_r,
        |  (CASE WHEN (abs(c.b - p.b) + abs(c.g - p.g) + abs(c.r - p.r)) * c.np
        |      >= 90 * c.np THEN 1 ELSE 0 END)::INT AS is_shot
        |FROM f c JOIN f p ON c.asset_id = p.asset_id AND c.fi = p.fi + 1
        |ORDER BY c.asset_id, frame_idx""".stripMargin,
    // triangle counting (q117): the strong-tie slice (co-count within 80%
    // of the corpus max) of q104's capped co-occurrence edges, the
    // forward-orientation wedge join replayed exactly — each triangle
    // materializes once under the (degree, id) order
    "q117_triangles" ->
      """WITH cs0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |keep AS (SELECT c FROM cs0 GROUP BY c HAVING count(*) <= 1024),
        |cs AS (SELECT cs0.c, cs0.s FROM cs0 JOIN keep USING (c)),
        |co AS (SELECT a.s AS s_a, b.s AS s_b, count(*)::BIGINT AS n
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |mxt AS (SELECT max(n) AS mx FROM co),
        |ed AS (SELECT s_a, s_b FROM co, mxt WHERE n * 5 >= mx * 4),
        |deg AS (SELECT s, count(*)::BIGINT AS deg FROM
        |  (SELECT s_a AS s FROM ed UNION ALL SELECT s_b FROM ed) GROUP BY 1),
        |ori AS (SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.s_a < e.s_b)
        |      THEN e.s_a ELSE e.s_b END AS u,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.s_a < e.s_b)
        |      THEN e.s_b ELSE e.s_a END AS v,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.s_a < e.s_b)
        |      THEN db.deg ELSE da.deg END AS dv
        |  FROM ed e JOIN deg da ON e.s_a = da.s JOIN deg db ON e.s_b = db.s),
        |wdg AS (SELECT e1.u, e1.v, e2.v AS w FROM ori e1 JOIN ori e2
        |  ON e1.u = e2.u AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))),
        |tri AS (SELECT wdg.u, wdg.v, wdg.w FROM wdg
        |  JOIN ori o ON o.u = wdg.v AND o.v = wdg.w),
        |pn AS (SELECT s, count(*)::BIGINT AS n_tri FROM
        |  (SELECT u AS s FROM tri UNION ALL SELECT v FROM tri
        |   UNION ALL SELECT w FROM tri) GROUP BY 1)
        |SELECT d.s, d.deg, coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
        |  (CASE WHEN d.deg >= 2
        |    THEN (1000000 * 2 * coalesce(pn.n_tri, 0)) // (d.deg * (d.deg - 1))
        |    ELSE 0 END)::BIGINT AS cc_fp
        |FROM deg d LEFT JOIN pn ON d.s = pn.s
        |ORDER BY d.s""".stripMargin,
    // decontamination by retrieval (q116): per eval doc, the rare-terms
    // BM25 query replayed end to end — df-ranked term selection, q113's
    // integer scoring chain, top-3 with the flagging threshold
    "q116_decontam_retrieval" ->
      """WITH lens AS (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS dl
        |  FROM documents),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_tokens
        |  FROM lens),
        |evt AS (SELECT DISTINCT eval_id, term FROM
        |  (SELECT doc_id AS eval_id, unnest(string_split(lower(text), ' ')) AS term
        |   FROM documents WHERE doc_id % 20 = 0)),
        |tok AS (SELECT DISTINCT doc_id, term FROM
        |  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |   FROM documents)),
        |dfc AS (SELECT term, count(*)::BIGINT AS df FROM tok
        |  WHERE term IN (SELECT DISTINCT term FROM evt) GROUP BY 1),
        |qt AS (SELECT eval_id, term, df FROM
        |  (SELECT e.eval_id, e.term, d.df,
        |     row_number() OVER (PARTITION BY e.eval_id ORDER BY d.df, e.term) AS rn
        |   FROM evt e JOIN dfc d USING (term)) WHERE rn <= 8),
        |toks2 AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |postings AS (SELECT term, t.doc_id, count(*)::BIGINT AS tf, max(l.dl) AS dl
        |  FROM toks2 t JOIN lens l ON t.doc_id = l.doc_id
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |scored AS (SELECT q.eval_id, p.doc_id,
        |    sum(((1000000 * (2 * (s.n_docs - q.df) + 1)) // (2 * q.df + 1) *
        |      (((22 * p.tf * 1000000 // 10) * 1000000) //
        |       (p.tf * 1000000 +
        |        (3 * 1000000 + 9 * ((1000000 * p.dl * s.n_docs) // s.total_tokens)) // 10)))
        |      // 1000000)::BIGINT AS score_fp
        |  FROM qt q JOIN postings p USING (term), stats s
        |  WHERE p.doc_id <> q.eval_id
        |  GROUP BY 1, 2),
        |ranked AS (SELECT eval_id, doc_id, score_fp,
        |    row_number() OVER (PARTITION BY eval_id
        |      ORDER BY score_fp DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT eval_id, rank, doc_id, score_fp,
        |  (score_fp >= 8000000)::INT AS flagged
        |FROM ranked WHERE rank <= 3 ORDER BY eval_id, rank""".stripMargin,
    // IVF-PQ (q115): the q32/q38 parity-leg treatment — every count is
    // quantizer/codebook-independent (probes return k rows under any
    // training; n_agree compares two expression trees computing the SAME
    // exact-int64 ADC score), so the oracle pins all three to k
    "q115_ivf_pq" ->
      """SELECT vec_id AS query_id, 10::BIGINT AS n_pq, 10::BIGINT AS n_adc,
        |  10::BIGINT AS n_agree
        |FROM embeddings WHERE vec_id % 50 = 0
        |ORDER BY query_id""".stripMargin,
    // animated + interlaced GIF (q114): per-frame channel sums replayed as
    // doc_id arithmetic (GIF is lossless, frames are full-canvas); the
    // position-weighted green sum makes the 4-pass de-interlace
    // hash-visible (a plain sum is row-permutation-invariant)
    "q114_gif_frames" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 16)::BIGINT AS w,
        |    (8 + (doc_id * 3) % 16)::BIGINT AS h,
        |    (1 + doc_id % 4)::BIGINT AS nf
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (SELECT asset_id, w, h, nf, unnest(range(nf)) AS fi FROM d),
        |px AS (SELECT asset_id, w, h, nf, fi, x, y,
        |    (asset_id * 5 + 3 * x + 7 * y + 11 * fi) % 256 AS g
        |  FROM f, unnest(range(f.w)) AS t1(x), unnest(range(f.h)) AS t2(y))
        |SELECT asset_id, fi AS frame_idx, w AS width, h AS height,
        |  nf AS n_frames, ((asset_id + 7 * fi) % 100)::BIGINT AS delay_cs,
        |  sum(g)::BIGINT AS sum_r,
        |  sum((x + 17 * y) * ((7 * g) % 256))::BIGINT AS wsum_g,
        |  sum((13 * g) % 256)::BIGINT AS sum_b
        |FROM px GROUP BY asset_id, fi, w, h, nf
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // PROGRESSIVE JPEG (SOF2): the q83 per-block-constant trick over the
    // Annex G scan script — decode is exact, so the oracle replays the
    // gray sum as doc_id arithmetic with q112's block formula
    "q112_jpeg_progressive" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (2 + doc_id % 4)::BIGINT AS wb,
        |    (2 + (doc_id * 3) % 4)::BIGINT AS hb
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT asset_id, (8 * wb)::BIGINT AS width, (8 * hb)::BIGINT AS height,
        |  (64 * list_sum(flatten(list_transform(range(hb), by ->
        |     list_transform(range(wb),
        |       bx -> (asset_id * 11 + 17 * bx + 23 * by) % 256)))))::BIGINT AS sum_gray
        |FROM d ORDER BY asset_id""".stripMargin,
    // baseline JPEG, 4:2:0 color: per-macroblock (Y,Cb,Cr) formulas pushed
    // through the decoder's integer BT.601 conversion, replayed here with
    // floor division by 2^16 (the Java `>> 16`) and the 0..255 clamps;
    // each 16x16 macroblock contributes 256 identical RGB pixels
    "q84_jpeg_color_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (1 + doc_id % 3)::BIGINT AS wm,
        |    (1 + (doc_id * 5) % 3)::BIGINT AS hm
        |  FROM documents WHERE doc_id % 3 = 2),
        |m AS (SELECT asset_id, wm, hm,
        |    (asset_id * 3 + 17 * mx + 29 * my) % 256 AS y,
        |    (asset_id * 5 + 23 * mx + 7 * my) % 256 AS cb,
        |    (asset_id * 11 + 19 * mx + 37 * my) % 256 AS cr
        |  FROM d, unnest(range(wm)) AS t1(mx), unnest(range(hm)) AS t2(my)),
        |px AS (SELECT asset_id, wm, hm,
        |    least(255, greatest(0,
        |      y + floor((91881 * (cr - 128) + 32768) / 65536.0)))::BIGINT AS r,
        |    least(255, greatest(0,
        |      y + floor((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768) / 65536.0)))::BIGINT AS g,
        |    least(255, greatest(0,
        |      y + floor((116130 * (cb - 128) + 32768) / 65536.0)))::BIGINT AS b
        |  FROM m)
        |SELECT asset_id, (16 * wm)::BIGINT AS width, (16 * hm)::BIGINT AS height,
        |  (256 * sum(b))::BIGINT AS sum_b,
        |  (256 * sum(g))::BIGINT AS sum_g,
        |  (256 * sum(r))::BIGINT AS sum_r
        |FROM px GROUP BY asset_id, wm, hm ORDER BY asset_id""".stripMargin,
    // the q83 corpus through the full transcode loop (decode -> NN 2x
    // upscale -> REAL forward-DCT re-encode -> decode): per-block-constant
    // content survives exactly, so dims double and the pixel sum
    // quadruples relative to q83's arithmetic
    "q85_jpeg_transcode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (2 + doc_id % 4)::BIGINT AS wb,
        |    (2 + (doc_id * 3) % 4)::BIGINT AS hb
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT asset_id, (16 * wb)::BIGINT AS width, (16 * hb)::BIGINT AS height,
        |  (256 * list_sum(flatten(list_transform(range(hb), by ->
        |     list_transform(range(wb),
        |       bx -> (asset_id * 7 + 13 * bx + 31 * by) % 256)))))::BIGINT AS sum_gray
        |FROM d ORDER BY asset_id""".stripMargin,
    // GIF/LZW: lossless palette-indexed gradient — sums are the palette
    // arithmetic over the index formula (r(i)=i, g(i)=7i mod 256,
    // b(i)=13i mod 256), BGR feature order mapped accordingly
    "q86_gif_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 16)::BIGINT AS width,
        |    (8 + (doc_id * 3) % 16)::BIGINT AS height
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT asset_id, width, height,
        |    (asset_id * 5 + 3 * x + 7 * y) % 256 AS gi
        |  FROM d, unnest(range(width)) AS t1(x), unnest(range(height)) AS t2(y))
        |SELECT asset_id, width, height,
        |  sum((gi * 13) % 256)::BIGINT AS sum_b,
        |  sum((gi * 7) % 256)::BIGINT AS sum_g,
        |  sum(gi)::BIGINT AS sum_r
        |FROM px GROUP BY asset_id, width, height ORDER BY asset_id""".stripMargin,
    // decode-normalized dedup: the planted cross-container twins (PNG
    // asset 2*id, BMP asset 2*id+1, identical pixels) are the ONLY
    // duplicate groups — the oracle knows exactly where they are
    "q87_cross_container_dedup" ->
      """SELECT (doc_id * 2)::BIGINT AS min_asset,
        |  (doc_id * 2 + 1)::BIGINT AS max_asset,
        |  2::BIGINT AS n_copies
        |FROM documents ORDER BY min_asset""".stripMargin,
    // dHash bits replayed as floor-div integer arithmetic: NN 9x8 gray
    // grid over the 2-D gray gradient, bit 8y+x = left < right, summed
    // into unsigned 32-bit halves
    "q88_image_dhash" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    (8 + doc_id % 16)::BIGINT AS w,
        |    (8 + (doc_id * 3) % 16)::BIGINT AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |bits AS (SELECT asset_id, (8 * y + x) AS i,
        |    CASE WHEN (asset_id * 7 + 3 * ((x * w) // 9) + 5 * ((y * h) // 8)) % 256
        |            < (asset_id * 7 + 3 * (((x + 1) * w) // 9) + 5 * ((y * h) // 8)) % 256
        |         THEN 1 ELSE 0 END AS b
        |  FROM d, unnest(range(8)) AS t1(x), unnest(range(8)) AS t2(y))
        |SELECT asset_id,
        |  sum(CASE WHEN i >= 32 THEN b * (1::BIGINT << (i - 32)) ELSE 0 END)::BIGINT AS dhash_hi,
        |  sum(CASE WHEN i < 32 THEN b * (1::BIGINT << i) ELSE 0 END)::BIGINT AS dhash_lo
        |FROM bits GROUP BY asset_id ORDER BY asset_id""".stripMargin,
    // G.711 expansion replayed: mu-law (even ids) complement + bias-0x84
    // segments, A-law (odd ids) xor-0x55 piecewise with inverted sign —
    // position-weighted checksum over the exact linear values
    "q89_g711_decode" ->
      """WITH d AS (SELECT doc_id AS asset_id, (64 + doc_id % 128)::BIGINT AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT asset_id, n, i,
        |    (asset_id * 29 + i * 11) % 256 AS byte
        |  FROM d, unnest(range(n)) AS t(i)),
        |lin AS (SELECT asset_id, n, i,
        |    CASE WHEN asset_id % 2 = 0 THEN
        |      -- mu-law: u = ~b; mag = ((mant*8+132) << exp) - 132
        |      (CASE WHEN (255 - byte) >= 128 THEN -1 ELSE 1 END) *
        |        ((((255 - byte) % 16) * 8 + 132) * (1::BIGINT << (((255 - byte) // 16) % 8)) - 132)
        |    ELSE
        |      -- A-law: a = b xor 85; sign bit SET means positive
        |      (CASE WHEN xor(byte, 85) >= 128 THEN 1 ELSE -1 END) *
        |        (CASE WHEN (xor(byte, 85) // 16) % 8 = 0
        |              THEN (xor(byte, 85) % 16) * 16 + 8
        |              ELSE ((xor(byte, 85) % 16) * 16 + 264) *
        |                   (1::BIGINT << ((xor(byte, 85) // 16) % 8 - 1)) END)
        |    END AS v
        |  FROM s)
        |SELECT asset_id, max(n)::BIGINT AS n_samples,
        |  sum((i + 1) * v)::BIGINT AS checksum
        |FROM lin GROUP BY asset_id ORDER BY asset_id""".stripMargin,
    // the bucketized interval join replayed as the plain theta-join the
    // engine's plan deliberately avoids: purchases (any user) inside the
    // 5-minute window after each error event
    "q90_interval_join" ->
      """SELECT e.event_id, count(p.tp)::BIGINT AS n_purchases
        |FROM (SELECT event_id, epoch_us(ts) AS t0 FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT epoch_us(ts) AS tp FROM events
        |           WHERE event_type = 'purchase') p
        |  ON p.tp >= e.t0 AND p.tp < e.t0 + 300000000
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    // dense hourly grid per user via range(); LOCF carries max(value) (a
    // selection, not arithmetic — replays bit-for-bit)
    "q91_gapfill" ->
      """WITH agg AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    count(*)::BIGINT AS n_obs, max(value) AS hr_max
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM agg GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hour FROM span),
        |j AS (SELECT g.user_id, g.hour,
        |    coalesce(a.n_obs, 0)::BIGINT AS n_events,
        |    a.n_obs IS NULL AS filled, a.hr_max
        |  FROM grid g LEFT JOIN agg a
        |    ON g.user_id = a.user_id AND g.hour = a.hour)
        |SELECT user_id, hour, n_events, filled,
        |  last_value(hr_max IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_locf
        |FROM j ORDER BY user_id, hour""".stripMargin,
    // bigram LM trained on the en slice, every doc scored: integer
    // fixed-point conditional probabilities (1e6-scaled floor division)
    "q92_lm_quality" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
        |  FROM toks, unnest(range(1, len(w))) AS t(i)),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg
        |  WHERE lang = 'en' GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY 1),
        |wt AS (SELECT c2.w1, c2.w2, (1000000 * c2.c2) // c1.c1 AS weight
        |  FROM c2 JOIN c1 USING (w1))
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  count(wt.weight)::BIGINT AS n_hits,
        |  coalesce(sum(wt.weight), 0)::BIGINT AS lm_score
        |FROM bg b LEFT JOIN wt ON b.w1 = wt.w1 AND b.w2 = wt.w2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // inverted-index tf-idf search: reciprocal-df integer weights, top-5
    // per query with the (score DESC, doc_id ASC) tie-break
    "q93_keyword_search" ->
      """WITH q(query_id, term) AS (VALUES
        |    (1, 'hash'), (1, 'join'), (1, 'spark'),
        |    (2, 'stream'), (2, 'window'), (2, 'batch'),
        |    (3, 'query'), (3, 'scan'), (3, 'filter'),
        |    (4, 'sort'), (4, 'merge'), (4, 'table'),
        |    (5, 'vector'), (5, 'data'), (5, 'column')),
        |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |wt AS (SELECT term, (1000000 * n_docs) // df AS weight FROM dfreq, n),
        |scored AS (SELECT q.query_id, p.doc_id,
        |    sum(p.tf * w.weight)::BIGINT AS score
        |  FROM q JOIN postings p USING (term) JOIN wt w USING (term)
        |  GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, doc_id, score FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // BM25 (q113): RSJ rational idf, integer tf saturation and length
    // normalization replayed with nested floor divisions; same query set
    // and BoundedTopK tie-break as q93
    "q113_bm25" ->
      """WITH q(query_id, term) AS (VALUES
        |    (1, 'hash'), (1, 'join'), (1, 'spark'),
        |    (2, 'stream'), (2, 'window'), (2, 'batch'),
        |    (3, 'query'), (3, 'scan'), (3, 'filter'),
        |    (4, 'sort'), (4, 'merge'), (4, 'table'),
        |    (5, 'vector'), (5, 'data'), (5, 'column')),
        |lens AS (SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS dl
        |  FROM documents),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_tokens
        |  FROM lens),
        |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |postings AS (SELECT term, t.doc_id, count(*)::BIGINT AS tf, max(l.dl) AS dl
        |  FROM toks t JOIN lens l ON t.doc_id = l.doc_id
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1),
        |wt AS (SELECT term, (1000000 * (2 * (n_docs - df) + 1)) // (2 * df + 1)
        |    AS idf_fp FROM dfreq, stats),
        |scored AS (SELECT q.query_id, p.doc_id,
        |    sum((w.idf_fp *
        |      (((22 * p.tf * 1000000 // 10) * 1000000) //
        |       (p.tf * 1000000 +
        |        (3 * 1000000 + 9 * ((1000000 * p.dl * s.n_docs) // s.total_tokens)) // 10)))
        |      // 1000000)::BIGINT AS score_fp
        |  FROM q JOIN postings p USING (term) JOIN wt w USING (term), stats s
        |  GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, score_fp,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_fp DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, doc_id, score_fp FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // pivot replayed as FILTER aggregates; n_total as the explicit sum of
    // the five pivot columns (the engine's own arithmetic), not count(*)
    "q94_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click')::BIGINT AS n_click,
        |  count(*) FILTER (event_type = 'view')::BIGINT AS n_view,
        |  count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase,
        |  count(*) FILTER (event_type = 'signup')::BIGINT AS n_signup,
        |  count(*) FILTER (event_type = 'error')::BIGINT AS n_error,
        |  (count(*) FILTER (event_type = 'click') +
        |   count(*) FILTER (event_type = 'view') +
        |   count(*) FILTER (event_type = 'purchase') +
        |   count(*) FILTER (event_type = 'signup') +
        |   count(*) FILTER (event_type = 'error'))::BIGINT AS n_total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // ordered funnel: each step's first completion strictly after the
    // previous step's — conditional-min aggregates, no sequence sort
    "q95_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s AS (SELECT user_id, min(t) AS t_signup FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS t_click FROM e JOIN s USING (user_id)
        |  WHERE e.event_type = 'click' AND e.t > s.t_signup GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS t_purchase FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > c.t_click GROUP BY 1)
        |SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase,
        |  (1 + (c.t_click IS NOT NULL)::INT + (p.t_purchase IS NOT NULL)::INT)
        |    AS stage
        |FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY s.user_id""".stripMargin,
    // cohort retention triangle: first-event day per user, activity at
    // day offsets 0..7 — (user, day) is distinct so count(*) counts users
    "q96_cohort_retention" ->
      """WITH active AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1)
        |SELECT c.cohort_day, (a.day - c.cohort_day) AS day_offset,
        |  count(*)::BIGINT AS n_users
        |FROM active a JOIN cohort c USING (user_id)
        |WHERE (a.day - c.cohort_day) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the md5-HLL sketch replayed register-for-register from the hex
    // digests: bucket = first two hex digits, rho = leading zero bits of
    // the remaining 120 (4 per '0' hex digit + the first nonzero digit's
    // nibble count) + 1, capped at 47; every derived scalar recomputed
    "q97_hll_sketch" ->
      """WITH h AS (SELECT DISTINCT event_type, md5(event_id::VARCHAR) AS h
        |  FROM events),
        |b AS (SELECT event_type,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |      strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket,
        |    length(regexp_extract(substr(h, 3), '^0*')) AS z,
        |    substr(h, 3 + length(regexp_extract(substr(h, 3), '^0*')), 1) AS d
        |  FROM h),
        |rho AS (SELECT event_type, bucket,
        |    least(4 * z + CASE WHEN d = '' THEN 0
        |      WHEN strpos('0123456789abcdef', d) - 1 >= 8 THEN 0
        |      WHEN strpos('0123456789abcdef', d) - 1 >= 4 THEN 1
        |      WHEN strpos('0123456789abcdef', d) - 1 >= 2 THEN 2
        |      ELSE 3 END + 1, 47) AS rho
        |  FROM b),
        |reg0 AS (SELECT event_type, bucket, max(rho) AS r
        |  FROM rho GROUP BY 1, 2),
        |allb AS (SELECT event_type, unnest(range(256)) AS bucket
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |regs AS (SELECT a.event_type, a.bucket, coalesce(r.r, 0) AS r
        |  FROM allb a LEFT JOIN reg0 r
        |    ON a.event_type = r.event_type AND a.bucket = r.bucket),
        |agg AS (SELECT event_type,
        |    sum(1::BIGINT << (47 - r))::BIGINT AS s_scaled,
        |    sum(CASE WHEN r = 0 THEN 1 ELSE 0 END)::INT AS n_zero,
        |    md5(string_agg(r::VARCHAR, ',' ORDER BY bucket)) AS reg_digest
        |  FROM regs GROUP BY event_type)
        |SELECT event_type, s_scaled, n_zero, reg_digest,
        |  0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 140737488355328.0
        |    / s_scaled::DOUBLE AS hll_estimate
        |FROM agg ORDER BY event_type""".stripMargin,
    // the Count-Min sketch replayed counter-for-counter: row r's counter
    // for v = first md5('r:' || v) byte; estimates = min over the 4 rows
    "q98_cms_sketch" -> {
      val hexByte = (s: String) =>
        s"(strpos('0123456789abcdef', substr($s, 1, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substr($s, 2, 1)) - 1"
      val probes = graft.operators.SkewOps.CmsProbes
        .map(p => s"('$p')").mkString(", ")
      s"""WITH toks AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS v
         |  FROM documents),
         |cnt AS (SELECT lang, r, ${hexByte("md5(r::VARCHAR || ':' || v)")} AS c,
         |    count(*)::BIGINT AS n
         |  FROM toks, unnest(range(4)) AS t(r) GROUP BY 1, 2, 3),
         |allrc AS (SELECT lang, r, c
         |  FROM (SELECT DISTINCT lang FROM documents),
         |    unnest(range(4)) AS t(r), unnest(range(256)) AS u(c)),
         |regs AS (SELECT a.lang, a.r, a.c, coalesce(cnt.n, 0)::BIGINT AS n
         |  FROM allrc a LEFT JOIN cnt ON a.lang = cnt.lang
         |    AND a.r = cnt.r AND a.c = cnt.c),
         |digest AS (SELECT lang,
         |    md5(string_agg(n::VARCHAR, ',' ORDER BY r, c)) AS reg_digest
         |  FROM regs GROUP BY 1),
         |probes(token) AS (VALUES $probes),
         |pcols AS (SELECT token, r,
         |    ${hexByte("md5(r::VARCHAR || ':' || token)")} AS c
         |  FROM probes, unnest(range(4)) AS t(r)),
         |est AS (SELECT regs.lang, p.token, min(regs.n)::BIGINT AS est_count
         |  FROM pcols p JOIN regs ON regs.r = p.r AND regs.c = p.c
         |  GROUP BY 1, 2)
         |SELECT e.lang, e.token, e.est_count, d.reg_digest
         |FROM est e JOIN digest d USING (lang)
         |ORDER BY e.lang, e.token""".stripMargin
    },
    // 3 unrolled exact-integer PageRank steps over the bidirectional
    // customer-supplier purchase graph: each step joins ranks to edges on
    // src and sums floor(r/deg) into dst — identical arithmetic to the
    // engine's loop
    "q99_pagerank" -> {
      def step(prev: String, next: String) =
        s"""$next AS (SELECT e.dst AS node,
           |    150000 + (85 * sum(r.r // d.deg)) // 100 AS r
           |  FROM edges e JOIN $prev r ON e.src = r.node
           |    JOIN deg d ON d.src = e.src
           |  GROUP BY 1)"""
      s"""WITH pairs AS (SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT c AS src, s AS dst FROM pairs
         |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT src AS node, 1000000::BIGINT AS r FROM deg),
         |${step("r0", "r1")},
         |${step("r1", "r2")},
         |${step("r2", "r3")}
         |SELECT node, r::BIGINT AS rank_scaled FROM r3
         |ORDER BY node""".stripMargin
    },
    // SCD2 replay: same two windows over the same (t, event_id) total
    // order; IS DISTINCT FROM keeps the opening row of every user
    "q100_scd2" ->
      """WITH e AS (SELECT user_id, event_type AS state, epoch_us(ts) AS t,
        |    event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |changes AS (SELECT user_id, state, t, event_id FROM e
        |  WHERE prev IS DISTINCT FROM state)
        |SELECT user_id,
        |  (row_number() OVER w)::BIGINT AS version,
        |  state, t AS valid_from,
        |  lead(t) OVER w AS valid_to
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // the Bloom filter replayed word-for-word: probe i of v sets bit
    // int(first 4 hex digits of md5('i:' || v)) % 2048; 16-bit words
    "q101_bloom_sketch" -> {
      val hex4 = (s: String) =>
        s"((strpos('0123456789abcdef', substr($s, 1, 1)) - 1) * 4096 + " +
          s"(strpos('0123456789abcdef', substr($s, 2, 1)) - 1) * 256 + " +
          s"(strpos('0123456789abcdef', substr($s, 3, 1)) - 1) * 16 + " +
          s"strpos('0123456789abcdef', substr($s, 4, 1)) - 1) % 2048"
      val probes = graft.operators.SkewOps.CmsProbes
        .map(p => s"('$p')").mkString(", ")
      s"""WITH toks AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS v
         |  FROM documents),
         |bits AS (SELECT DISTINCT lang,
         |    ${hex4("md5(i::VARCHAR || ':' || v)")} AS pos
         |  FROM toks, unnest(range(4)) AS t(i)),
         |setw AS (SELECT lang, pos // 16 AS w,
         |    sum(1 << (pos % 16))::INT AS word
         |  FROM bits GROUP BY 1, 2),
         |allw AS (SELECT lang, w
         |  FROM (SELECT DISTINCT lang FROM documents), unnest(range(128)) AS t(w)),
         |words AS (SELECT a.lang, a.w, coalesce(s.word, 0)::INT AS word
         |  FROM allw a LEFT JOIN setw s ON a.lang = s.lang AND a.w = s.w),
         |filt AS (SELECT lang,
         |    sum(bit_count(word))::INT AS bits_set,
         |    md5(string_agg(word::VARCHAR, ',' ORDER BY w)) AS filter_digest
         |  FROM words GROUP BY 1),
         |probes(token) AS (VALUES $probes),
         |pbits AS (SELECT token, ${hex4("md5(i::VARCHAR || ':' || token)")} AS pos
         |  FROM probes, unnest(range(4)) AS t(i)),
         |phit AS (SELECT w.lang, p.token,
         |    bool_and(((w.word >> (p.pos % 16)) & 1) = 1) AS hit
         |  FROM pbits p JOIN words w ON w.w = p.pos // 16
         |  GROUP BY 1, 2)
         |SELECT h.lang, h.token, h.hit, f.bits_set, f.filter_digest
         |FROM phit h JOIN filt f USING (lang)
         |ORDER BY h.lang, h.token""".stripMargin
    },
    // the Morton interleave replayed bit-for-bit: bit i of x % 2^16 at
    // position 2i, of y at 2i+1; 64 equal code-range buckets
    "q102_zorder_index" -> {
      val terms = (0 until 16).flatMap { i =>
        Seq(s"(((xm >> $i) & 1) << ${2 * i})", s"(((ym >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""WITH d AS (SELECT l_partkey AS x, l_suppkey AS y,
         |    l_partkey % 65536 AS xm, l_suppkey % 65536 AS ym
         |  FROM lineitem),
         |z AS (SELECT x, y, ($terms)::BIGINT AS z FROM d),
         |b AS (SELECT min(z) AS z0, max(z) AS z1 FROM z)
         |SELECT (z.z - b.z0) // ((b.z1 - b.z0 + 64) // 64) AS bucket,
         |  count(*)::BIGINT AS n,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM z, b GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // sketch algebra replayed: per-type registers from the q97 CTE shape
    // (over user_id), pairwise union = per-bucket greatest, estimates by
    // the same dyadic arithmetic, inclusion-exclusion intersection, and
    // the exact overlap joined alongside
    "q103_hll_intersect" -> {
      val estOf = (s: String) =>
        s"0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 140737488355328.0 / ($s)::DOUBLE"
      s"""WITH h AS (SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h
         |  FROM events),
         |b AS (SELECT event_type,
         |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
         |      strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket,
         |    length(regexp_extract(substr(h, 3), '^0*')) AS z,
         |    substr(h, 3 + length(regexp_extract(substr(h, 3), '^0*')), 1) AS d
         |  FROM h),
         |rho AS (SELECT event_type, bucket,
         |    least(4 * z + CASE WHEN d = '' THEN 0
         |      WHEN strpos('0123456789abcdef', d) - 1 >= 8 THEN 0
         |      WHEN strpos('0123456789abcdef', d) - 1 >= 4 THEN 1
         |      WHEN strpos('0123456789abcdef', d) - 1 >= 2 THEN 2
         |      ELSE 3 END + 1, 47) AS rho
         |  FROM b),
         |reg0 AS (SELECT event_type, bucket, max(rho) AS r
         |  FROM rho GROUP BY 1, 2),
         |allb AS (SELECT event_type, unnest(range(256)) AS bucket
         |  FROM (SELECT DISTINCT event_type FROM events)),
         |regs AS (SELECT a.event_type, a.bucket, coalesce(r.r, 0) AS r
         |  FROM allb a LEFT JOIN reg0 r
         |    ON a.event_type = r.event_type AND a.bucket = r.bucket),
         |pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    a.bucket, a.r AS ra, b.r AS rb
         |  FROM regs a JOIN regs b ON a.bucket = b.bucket
         |    AND a.event_type < b.event_type),
         |sums AS (SELECT type_a, type_b,
         |    sum(1::BIGINT << (47 - ra))::BIGINT AS sa,
         |    sum(1::BIGINT << (47 - rb))::BIGINT AS sb,
         |    sum(1::BIGINT << (47 - greatest(ra, rb)))::BIGINT AS su
         |  FROM pair GROUP BY 1, 2),
         |uv AS (SELECT DISTINCT event_type, user_id FROM events),
         |exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    count(*)::BIGINT AS n_exact
         |  FROM uv a JOIN uv b ON a.user_id = b.user_id
         |    AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT s.type_a, s.type_b,
         |  ${estOf("sa")} AS est_a, ${estOf("sb")} AS est_b,
         |  ${estOf("su")} AS est_union,
         |  ${estOf("sa")} + ${estOf("sb")} - ${estOf("su")} AS est_intersect,
         |  coalesce(e.n_exact, 0) AS n_exact
         |FROM sums s LEFT JOIN exact e
         |  ON s.type_a = e.type_a AND s.type_b = e.type_b
         |ORDER BY s.type_a, s.type_b""".stripMargin
    },
    // item-item co-occurrence: distinct (customer, supplier) pairs,
    // equi-self-join on customer, >=3 shared, scaled integer Jaccard
    "q104_cooccurrence" ->
      """WITH cs0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |keep AS (SELECT c FROM cs0 GROUP BY c HAVING count(*) <= 1024),
        |cs AS (SELECT cs0.c, cs0.s FROM cs0 JOIN keep USING (c)),
        |deg AS (SELECT s, count(*)::BIGINT AS deg FROM cs GROUP BY 1),
        |co AS (SELECT a.s AS s_a, b.s AS s_b, count(*)::BIGINT AS n_shared
        |  FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT co.s_a, co.s_b, co.n_shared,
        |  da.deg AS deg_a, db.deg AS deg_b,
        |  (1000000 * co.n_shared) // (da.deg + db.deg - co.n_shared)
        |    AS jaccard_fp
        |FROM co JOIN deg da ON co.s_a = da.s
        |  JOIN deg db ON co.s_b = db.s
        |ORDER BY co.s_a, co.s_b""".stripMargin,
    // conversion-time profile: q95's funnel CTEs -> stage-3 latencies in
    // seconds -> per-signup-day histogram with index-rule percentiles
    "q105_conversion_profile" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s AS (SELECT user_id, min(t) AS t_signup FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS t_click FROM e JOIN s USING (user_id)
        |  WHERE e.event_type = 'click' AND e.t > s.t_signup GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS t_purchase FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > c.t_click GROUP BY 1),
        |conv AS (SELECT s.t_signup // 86400000000 AS signup_day,
        |    (p.t_purchase - s.t_signup) // 1000000 AS ttc_s
        |  FROM s JOIN p USING (user_id)),
        |hist AS (SELECT signup_day, ttc_s, count(*)::BIGINT AS cnt
        |  FROM conv GROUP BY 1, 2),
        |cum AS (SELECT signup_day, ttc_s, cnt,
        |    sum(cnt) OVER (PARTITION BY signup_day ORDER BY ttc_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY signup_day) AS n
        |  FROM hist)
        |SELECT signup_day, max(n)::BIGINT AS n_converted,
        |  min(ttc_s) AS min_s, max(ttc_s) AS max_s,
        |  min(CASE WHEN cum >= (n - 1) // 2 + 1 THEN ttc_s END) AS med_s,
        |  min(CASE WHEN cum >= floor(0.9 * (n - 1)::DOUBLE) + 1 THEN ttc_s END)
        |    AS p90_s
        |FROM cum GROUP BY signup_day ORDER BY signup_day""".stripMargin,
    // sliding windows replayed by explicit expansion: each event lands in
    // exactly 4 of the 15-minute-aligned 1-hour windows
    "q106_sliding_window" ->
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)
        |    - to_minutes(15 * j)) AS ws_us,
        |  epoch_us(time_bucket(INTERVAL '15 minutes', ts)
        |    - to_minutes(15 * j) + INTERVAL '1 hour') AS we_us,
        |  event_type, count(*) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
        |FROM events, unnest(range(4)) AS t(j)
        |GROUP BY 1, 2, 3 ORDER BY ws_us, event_type""".stripMargin,
    // trigram stupid-backoff replayed: per-level scaled conditional
    // probabilities, coalesce picks the deepest hit, 0.4 = (2x) // 5
    "q107_backoff_lm" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |trans AS (SELECT doc_id, lang,
        |    CASE WHEN i >= 3 THEN w[i - 2] END AS w1, w[i - 1] AS w2, w[i] AS w3
        |  FROM toks, unnest(range(2, len(w) + 1)) AS t(i)),
        |en AS (SELECT * FROM trans WHERE lang = 'en'),
        |c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM en
        |  WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT w1, w2, sum(c3)::BIGINT AS ctx3 FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2, w3, count(*)::BIGINT AS c2 FROM en GROUP BY 1, 2),
        |ctx2 AS (SELECT w2, sum(c2)::BIGINT AS ctx2 FROM c2 GROUP BY 1),
        |c1 AS (SELECT w3, count(*)::BIGINT AS c1 FROM en GROUP BY 1),
        |n1 AS (SELECT sum(c1)::BIGINT AS n1 FROM c1),
        |p3 AS (SELECT c3.w1, c3.w2, c3.w3, (1000000 * c3.c3) // ctx3.ctx3 AS p3
        |  FROM c3 JOIN ctx3 USING (w1, w2)),
        |p2 AS (SELECT c2.w2, c2.w3, (1000000 * c2.c2) // ctx2.ctx2 AS p2
        |  FROM c2 JOIN ctx2 USING (w2)),
        |p1 AS (SELECT w3, (1000000 * c1) // n1 AS p1 FROM c1, n1),
        |scored AS (SELECT t.doc_id,
        |    coalesce(p3.p3, (2 * p2.p2) // 5, (4 * p1.p1) // 25, 0) AS score,
        |    CASE WHEN p3.p3 IS NOT NULL THEN 3
        |         WHEN p2.p2 IS NOT NULL THEN 2
        |         WHEN p1.p1 IS NOT NULL THEN 1 ELSE 0 END AS level
        |  FROM trans t
        |  LEFT JOIN p3 ON t.w1 = p3.w1 AND t.w2 = p3.w2 AND t.w3 = p3.w3
        |  LEFT JOIN p2 ON t.w2 = p2.w2 AND t.w3 = p2.w3
        |  LEFT JOIN p1 ON t.w3 = p1.w3)
        |SELECT doc_id, count(*)::BIGINT AS n_trans,
        |  sum(score)::BIGINT AS lm_score,
        |  sum(CASE WHEN level = 3 THEN 1 ELSE 0 END)::BIGINT AS n_tri,
        |  sum(CASE WHEN level = 2 THEN 1 ELSE 0 END)::BIGINT AS n_bi,
        |  sum(CASE WHEN level = 1 THEN 1 ELSE 0 END)::BIGINT AS n_uni
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,
    // BPE TRAINING replayed round-for-round: each unrolled step counts
    // frequency-weighted adjacent pairs over the current word states,
    // picks the (cnt DESC, l, r) argmax, and rewrites by plain replace()
    // (left-to-right non-overlapping — identical semantics to the
    // engine's quoted regexp_replace)
    "q108_bpe_train" -> {
      // every step CTE is MATERIALIZED: each references its predecessor
      // several times (the pair count, the argmax, and three scalar
      // subqueries in the rewrite), so inlining would expand the chain
      // ~4^8-fold and re-open the source that many times
      val steps = (1 to 8).map { k =>
        s"""p$k AS MATERIALIZED (SELECT t[i] AS l, t[i + 1] AS r, sum(freq)::BIGINT AS cnt
           |  FROM (SELECT freq, string_split(trim(s), ' ') AS t FROM s${k - 1}),
           |    unnest(range(1, len(t))) AS u(i)
           |  GROUP BY 1, 2),
           |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
           |s$k AS MATERIALIZED (SELECT freq,
           |    replace(s, ' ' || (SELECT l FROM b$k) || ' ' || (SELECT r FROM b$k) || ' ',
           |      ' ' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ' ') AS s
           |  FROM s${k - 1})"""
      }.mkString(",\n        |")
      val out = (1 to 8)
        .map(k => s"SELECT $k AS rank, l AS l_tok, r AS r_tok, cnt AS pair_count FROM b$k")
        .mkString("\n        |UNION ALL ")
      s"""WITH w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM
         |    (SELECT unnest(regexp_extract_all(lower(text),
         |       '${operators.TextOps.BpeTokenPattern}', 0)) AS word
         |     FROM documents WHERE lang = 'en')
         |  GROUP BY 1),
         |s0 AS MATERIALIZED (SELECT freq, ' ' || array_to_string(
         |    list_transform(range(length(word)), i -> substr(word, i + 1, 1)), ' ')
         |    || ' ' AS s FROM w0),
         |$steps
         |$out
         |ORDER BY rank""".stripMargin
    },
    // TF-IDF cosine replayed: integer idf weights and norms, the cosine
    // via sqrt — IEEE-correctly-rounded in both engines (unlike ln)
    "q109_tfidf_cosine" ->
      """WITH w0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS t
        |  FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM w0)),
        |dfc AS (SELECT t, count(*)::BIGINT AS df FROM sh GROUP BY 1
        |  HAVING count(*) <= 32),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |wt AS (SELECT t, (10000 * n_docs) // df AS wt FROM dfc, n),
        |posts AS (SELECT sh.doc_id, sh.t, wt.wt FROM sh JOIN wt USING (t)),
        |norms AS (SELECT doc_id, sum(wt * wt)::BIGINT AS s_self
        |  FROM posts GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(a.wt * a.wt)::BIGINT AS s_ab, count(*)::BIGINT AS n_shared
        |  FROM posts a JOIN posts b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.doc_a, p.doc_b, p.n_shared,
        |  p.s_ab::DOUBLE / sqrt(na.s_self::DOUBLE * nb.s_self::DOUBLE)
        |    AS cos_sim
        |FROM pairs p JOIN norms na ON p.doc_a = na.doc_id
        |  JOIN norms nb ON p.doc_b = nb.doc_id
        |ORDER BY p.doc_a, p.doc_b""".stripMargin,
    // sessionized 3-step paths: q33's gap sessions, the ordered type
    // sequence per session, consecutive triples, global top-20 ranked
    // (n DESC, path DESC — BoundedTopK's struct order)
    "q110_session_paths" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id, event_id, event_type, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w > 86400000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (SELECT user_id, event_type, ts_us, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM g),
        |seqs AS (SELECT list(event_type ORDER BY ts_us, event_id) AS seq
        |  FROM s GROUP BY user_id, session_no),
        |paths AS (SELECT seq[i] || '>' || seq[i + 1] || '>' || seq[i + 2] AS path
        |  FROM seqs, unnest(range(1, len(seq) - 1)) AS t(i)),
        |cnt AS (SELECT path, count(*)::BIGINT AS n FROM paths GROUP BY 1),
        |ranked AS (SELECT path, n,
        |    row_number() OVER (ORDER BY n DESC, path DESC) AS rank
        |  FROM cnt)
        |SELECT rank, path, n FROM ranked WHERE rank <= 20
        |ORDER BY rank""".stripMargin,
    // association rules over session baskets: distinct (session, type),
    // directed pair counts, 1e6-scaled support/confidence/lift
    "q111_association_rules" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id, event_id, event_type, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |              OR ts_us - lag(ts_us) OVER w > 86400000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (SELECT user_id, event_type, ts_us, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM g),
        |baskets AS (SELECT DISTINCT user_id, session_no, event_type AS t FROM s),
        |n AS (SELECT count(*)::BIGINT AS n_baskets FROM
        |  (SELECT DISTINCT user_id, session_no FROM baskets)),
        |items AS (SELECT t, count(*)::BIGINT AS n_item FROM baskets GROUP BY 1),
        |pairs AS (SELECT a.t AS a, b.t AS b, count(*)::BIGINT AS n_ab
        |  FROM baskets a JOIN baskets b
        |    ON a.user_id = b.user_id AND a.session_no = b.session_no
        |    AND a.t <> b.t
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_ab,
        |  (1000000 * p.n_ab) // n.n_baskets AS support_fp,
        |  (1000000 * p.n_ab) // ia.n_item AS confidence_fp,
        |  (1000000 * p.n_ab * n.n_baskets) // (ia.n_item * ib.n_item) AS lift_fp
        |FROM pairs p JOIN items ia ON p.a = ia.t
        |  JOIN items ib ON p.b = ib.t, n
        |ORDER BY p.a, p.b""".stripMargin,
  )
}
