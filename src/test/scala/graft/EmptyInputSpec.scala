package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.{Analytics, LakeOps, SinkOps, TextOps, VectorOps}

/** Degenerate-input battery: every pipeline operator must survive EMPTY
  * source tables (0-row parquet with the production schema) — at 100 TB a
  * partition-pruned read or a fresh tenant is routinely empty, and an
  * operator that NPEs or divides by zero there fails the whole job. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val d = tmpDir("graft_empty_sf").getAbsolutePath
    val s = spark
    def write(name: String, schema: StructType): Unit =
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$d/$name.parquet")
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    write("part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))))
    write("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))))
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))))
    d
  }

  test("document operators return cleanly on an empty corpus") {
    val ops: Seq[(String, TextOps.Q)] = Seq(
      "text_block_dedup" -> TextOps.textBlockDedup,
      "text_bm25" -> TextOps.textBm25,
      "text_lm_score" -> TextOps.textLmScore,
      "text_pmi" -> TextOps.textPmi,
      "text_diversity" -> TextOps.textDiversity,
      "dedup_spans" -> TextOps.dedupSpans,
      "dedup_prefix" -> TextOps.dedupPrefix,
      "decontaminate_bloom" -> TextOps.decontaminateBloom,
      "bpe_pair_counts" -> TextOps.bpePairCounts,
      "sample_quality_weighted" -> TextOps.sampleQualityWeighted,
      "sample_temperature" -> TextOps.sampleTemperature,
      "link_fuzzy_edit" -> TextOps.linkFuzzyEdit,
      "link_fuzzy_capped" -> TextOps.linkFuzzyCapped,
      "phrase_search" -> TextOps.phraseSearch,
      "pipeline_quality_filter" -> TextOps.pipelineQualityFilter,
      "domain_stats" -> TextOps.domainStats,
      "label_propagation" -> TextOps.labelPropagation,
      "bpe_train_merges" -> TextOps.bpeTrainMerges,
      "audio_fingerprint" -> graft.queries.MultimodalOps.audioFingerprint,
      "audio_resample" -> graft.queries.MultimodalOps.audioResample,
      "pipeline_audio_curate" -> graft.queries.MultimodalOps.pipelineAudioCurate,
      "audio_vad_trim" -> graft.queries.MultimodalOps.audioVadTrim,
      "mm_decode_bmp" -> graft.queries.MultimodalOps.mmDecodeBmp,
      "dedup_image_phash" -> graft.queries.MultimodalOps.dedupImagePhash,
      "mm_image_resize" -> graft.queries.MultimodalOps.mmImageResize,
      "mm_decode_ppm" -> graft.queries.MultimodalOps.mmDecodePpm,
      "mm_decode_png" -> graft.queries.MultimodalOps.mmDecodePng,
      "mm_decode_jpeg" -> graft.queries.MultimodalOps.mmDecodeJpeg,
      "mm_decode_gif" -> graft.queries.MultimodalOps.mmDecodeGif,
      "audio_g711_decode" -> graft.queries.MultimodalOps.audioG711Decode,
      "audio_adpcm_decode" -> graft.queries.MultimodalOps.audioAdpcmDecode,
      "pipeline_curate_stream" -> graft.queries.SinkOps.pipelineCurateStream,
      "dedup_minhash_incremental" -> TextOps.dedupMinhashIncremental,
      "mm_frame_sample_gif" -> graft.queries.MultimodalOps.mmFrameSampleGif,
      "s5_zip_scan" -> graft.queries.ReferenceOps.s5ZipScan,
      "s6_tar_webdataset" -> graft.queries.ReferenceOps.s6TarWebdataset,
      "dedup_containment" -> TextOps.dedupContainment,
      "dedup_url" -> TextOps.dedupUrl,
      "dedup_clusters_keepbest" -> TextOps.dedupClustersKeepbest,
      "join_asof_nearest" -> graft.queries.LakeOps.joinAsofNearest,
      "events_ohlc_bars" -> Analytics.eventsOhlcBars,
      "dedup_adaptive_bits" -> VectorOps.dedupAdaptiveBits,
      "dedup_incremental" -> TextOps.dedupIncremental,
      "text_classify_linear" -> TextOps.textClassifyLinear,
      "mm_interleave" -> graft.queries.MultimodalOps.mmInterleave,
      "dedup_minhash_cc" -> TextOps.dedupMinhashCc,
      "sample_reservoir" -> TextOps.sampleReservoir,
      "graph_bfs_distance" -> Analytics.graphBfsDistance)
    // recall eval emits its single all-zero row on an empty corpus
    val rr = TextOps.dedupRecallEval(spark, emptyDir).collect()
    assert(rr.length == 1 && (0 to 2).forall(i => rr.head.getLong(i) == 0))
    // GD training on an empty corpus must not die (the greatest(n,1) guard
    // vs ANSI div-by-zero): 3 report rows, weights NULL — no phantom model
    val tr = TextOps.trainLogregQuality(spark, emptyDir).collect()
    assert(tr.length == 3 && tr.forall(_.isNullAt(1)), "train_logreg_quality not empty-safe")
    ops.foreach { case (name, q) =>
      assert(q(spark, emptyDir).count() == 0, s"$name not empty-safe")
    }
  }

  test("event operators return cleanly on an empty event log") {
    assert(Analytics.eventsRetention(spark, emptyDir).count() == 0)
    assert(Analytics.eventsMarkov(spark, emptyDir).count() == 0)
    assert(Analytics.eventsRateAnomaly(spark, emptyDir).count() == 0)
    assert(Analytics.eventsWatermarkAudit(spark, emptyDir).count() == 0)
    // the funnel emits its single stage-count row with all-zero stages
    val f = Analytics.eventsFunnel(spark, emptyDir).collect()
    assert(f.length == 1 && (0 to 2).forall(i => f.head.getLong(i) == 0))
    assert(Analytics.eventsAttribution(spark, emptyDir).count() == 0)
    // the triangle count emits its single (n_edges, n_triangles) = (0, 0) row
    val g = Analytics.graphTriangles(spark, emptyDir).collect()
    assert(g.length == 1 && g.head.getLong(0) == 0 && g.head.getLong(1) == 0)
    assert(Analytics.eventsConcurrency(spark, emptyDir).count() == 0)
    // hll keeps the merged '__all__' row even with no events
    val h = Analytics.hllDistinct(spark, emptyDir).collect()
    assert(h.length == 1 && h.head.getString(0) == "__all__" && h.head.getLong(1) == 0)
    assert(Analytics.topkEventsAgg(spark, emptyDir).count() == 0)
    // the streaming oracle entries (pipeline_curate_stream is in the corpus test)
    Seq(
      "events_tumbling_stream" -> SinkOps.eventsTumblingStream,
      "events_hopping_stream" -> SinkOps.eventsHoppingStream,
      "events_ohlc_stream" -> SinkOps.eventsOhlcStream,
      "events_dedup_stream" -> SinkOps.eventsDedupStream,
      "events_enrich_stream" -> SinkOps.eventsEnrichStream,
      "events_stateful_stream" -> SinkOps.eventsStatefulStream,
      "stream_upsert_mv" -> SinkOps.streamUpsertMv,
      "events_correlate_stream" -> SinkOps.eventsCorrelateStream,
      "events_left_join_stream" -> SinkOps.eventsLeftJoinStream,
      "events_session_window_stream" -> SinkOps.eventsSessionWindowStream
    ).foreach { case (name, q) =>
      assert(q(spark, emptyDir).count() == 0, s"$name not empty-safe")
    }
  }

  test("lakehouse operators return cleanly on empty tables") {
    assert(LakeOps.partSkyline(spark, emptyDir).count() == 0)
    assert(LakeOps.partSkylineGlobal(spark, emptyDir).count() == 0)
    assert(LakeOps.intervalUnion(spark, emptyDir).count() == 0)
    assert(LakeOps.eventsCdcApply(spark, emptyDir).count() == 0)
    assert(LakeOps.tfidfPairSim(spark, emptyDir).count() == 0)
    assert(LakeOps.joinAsofForward(spark, emptyDir).count() == 0)
    assert(LakeOps.zorderCluster(spark, emptyDir).count() == 0)
    assert(LakeOps.joinBucketed(spark, emptyDir).count() == 0)
    assert(LakeOps.heavyHittersCms(spark, emptyDir).count() == 0)
    // empty dim → all-null bloom words → every probe misses → 0 rows
    assert(LakeOps.joinBloomPrefilter(spark, emptyDir).count() == 0)
  }

  test("vector operators return cleanly on an empty embedding table") {
    assert(VectorOps.embedPq(spark, emptyDir).count() == 0)
    assert(VectorOps.annPqRerank(spark, emptyDir).count() == 0)
    assert(VectorOps.kmeansQuantized(spark, emptyDir).count() == 0)
    assert(VectorOps.arrayHof(spark, emptyDir).count() == 0)
    assert(VectorOps.dedupEmbedding(spark, emptyDir).count() == 0)
    assert(VectorOps.dedupSemantic(spark, emptyDir).count() == 0)
    assert(VectorOps.annIvfTopk(spark, emptyDir).count() == 0)
    assert(VectorOps.annRecallEval(spark, emptyDir).count() == 0)
    assert(VectorOps.rankFusion(spark, emptyDir).count() == 0)
    assert(VectorOps.rankMmr(spark, emptyDir).count() == 0)
    assert(graft.operators.ConnectedComponents.run(
      spark.range(0).select(col("id")),
      spark.range(0).select(col("id").as("src"), col("id").as("dst"))).count() == 0)
    assert(graft.operators.ConnectedComponents.runStar(
      spark.range(0).select(col("id")),
      spark.range(0).select(col("id").as("src"), col("id").as("dst"))).count() == 0)
  }

  test("bucketed interval join returns cleanly on an empty events table") {
    assert(Analytics.eventsCorrelate(spark, emptyDir).count() == 0)
  }
}
