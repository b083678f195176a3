"""Physical-plan quality gates (the 100 TB checklist, SURVEY.md §4.2).

These assert the *shape* of the plans, not their results: filters reach the
parquet scan, projections prune columns, small sides broadcast, the convert
hot path has no shuffle, and aggregations are map-side partial.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_convert_hot_path_has_no_shuffle(spark, tmp_path):
    """The conversion map must not introduce an Exchange."""
    from marky_spark.convert import convert
    from marky_spark.corpus import spark_corpus

    path = str(tmp_path / "spans")
    spark_corpus(spark, 200, partitions=2).write.parquet(path)
    out = convert(spark.read.parquet(path))
    plan = plan_of(out)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan


def test_kind_filter_sits_below_kernel(spark, tmp_path):
    """kinds= restriction is a plain Filter under MapInPandas, evaluated
    JVM-side before any Arrow transfer."""
    from marky_spark.convert import convert
    from marky_spark.corpus import spark_corpus

    path = str(tmp_path / "spans2")
    spark_corpus(spark, 200, partitions=2).write.parquet(path)
    out = convert(spark.read.parquet(path), kinds=["csv"])
    plan = plan_of(out)
    map_pos = plan.index("MapInPandas")
    filter_pos = plan.index("arrays_overlap")
    assert filter_pos > map_pos  # appears deeper in the tree (child side)


def test_doc_id_predicate_pushed_to_parquet(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.where(F.col("doc_id") < 100).select("doc_id", "text")
    plan = plan_of(out)
    assert "PushedFilters" in plan
    assert "LessThan(doc_id,100)" in plan, plan


def test_projection_prunes_scan_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(docs.select("doc_id", "lang"))
    # ReadSchema must not include text / n_chars / source
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema, read_schema


def test_resume_anti_join_broadcasts(spark):
    import __spark_entry__ as e

    plan = plan_of(e.queries()["resume_anti_join"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_orders_join_broadcasts_dimension(spark):
    import __spark_entry__ as e

    plan = plan_of(e.queries()["orders_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("ShuffleExchange") <= 1 or "Exchange hashpartitioning" in plan


def test_tpch_q1_partial_aggregation(spark):
    import __spark_entry__ as e

    plan = plan_of(e.queries()["tpch_q1_style"](spark, SF))
    # map-side combine: partial_ aggregate functions before the exchange
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert plan.count("Exchange") == 1, plan  # single shuffle on group keys


def test_whole_stage_codegen_covers_textstats(spark):
    import contextlib
    import io

    from marky_spark.ops.textstats import quality_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = quality_scores(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    # the scan stage is codegen'd + columnar; the Project itself contains a
    # higher-order filter(lambda) which Spark evaluates interpreted (still
    # JVM-side, still vectorized input) — that is the expected plan shape
    assert "codegen id" in formatted, formatted
    assert "Batched: true" in formatted
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "MapInPandas" not in plan      # fully JVM-side


def test_minhash_signature_fully_jvm(spark):
    from marky_spark.ops.dedup import minhash_signature

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signature(docs))
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Exchange" not in plan  # signature computation is shuffle-free


def test_minhash_pairs_one_scan_one_group_shuffle(spark):
    """LSH candidates are ONE signature scan + a groupBy on (band_idx,
    band_key) + in-array pair expansion — no self-join (the join form ran
    the signature scan once per side) and no second corpus shuffle before
    the final distinct."""
    from marky_spark.ops.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = optimized_of(minhash_candidate_pairs(docs))
    assert "Join" not in plan, plan
    exec_plan = plan_of(minhash_candidate_pairs(docs))
    # bucket groupBy + the distinct over emitted pairs — nothing else
    assert exec_plan.count("Exchange") == 2, exec_plan


def test_supplier_region_broadcasts_both_dims(spark):
    """The dimension chain nation->region broadcasts on both hops."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["supplier_region"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_events_rollup_is_partial_aggregated(spark):
    """Rollup expands grouping sets and still combines map-side."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["events_rollup"](spark, SF))
    assert "Expand" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_ann_probe_is_join_free(spark):
    """LSH probing filters inside one Arrow stage — no self-join of the
    embedding table, no Exchange before the final top-k."""
    from pyspark.sql import functions as F

    from marky_spark.ops.similarity import ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    plan = plan_of(ann_topk(emb, list(q), k=5, n_planes=4))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan  # TakeOrderedAndProject needs none


def test_sample_stratified_is_shuffle_free_narrow_filter(spark):
    """Sampling must stay a narrow filter: no Exchange, no Python stage,
    column pruning reaches the scan."""
    from marky_spark.ops.sampling import sample_stratified

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sample_stratified(
        docs, {"en": 0.5}, default_rate=0.1
    ).select("doc_id", "lang")
    plan = plan_of(out)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1]


def test_dup_components_rounds_are_bounded_shuffles(spark):
    """Each large-star/small-star round is groupBy+join shuffles over the
    (u, v) edge relation only — never a collect_list of neighbor sets
    (SortAggregate/ObjectHashAggregate with collect_list would appear)."""
    from marky_spark.ops.dedup import dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = dup_components(pairs, max_iter=4)
    plan = plan_of(out)
    assert "collect_list" not in plan, plan


def test_curate_has_single_shuffle(spark, tmp_path):
    """The composed curation pipeline: scores inline (no join-back), so the
    only Exchange is the dedup window's hash partitioning."""
    from marky_spark.corpus import spark_corpus
    from marky_spark.ops.curate import curate

    path = str(tmp_path / "spans3")
    spark_corpus(spark, 100, partitions=2).write.parquet(path)
    out = curate(spark.read.parquet(path), rates={"en": 0.5},
                 default_rate=0.1, min_quality_bp=0)
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_png_pipeline_is_fully_narrow(spark):
    """PNG generate → decode is a chain of Arrow maps over the scan — zero
    Exchange: the 100 TB shape for per-blob media work (decode never
    justifies a shuffle)."""
    from marky_spark.ops.multimodal import decode_pixels, synth_png_media

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(decode_pixels(synth_png_media(docs)))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 2  # encode stage + decode stage


def test_binary_convert_query_is_narrow_plus_single_agg(spark):
    """The frozen-golden conversion queries are filter + map + project —
    no shuffle at all for the per-doc form."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["convert_binary_docs"](spark, SF))
    assert "Exchange" not in plan, plan


def test_skew_balanced_does_not_shuffle_the_bulk(spark, tmp_path):
    """Only the over-threshold tail may hit an Exchange; the bulk branch
    must flow narrowly (a corpus-wide shuffle to fix a <1% tail was the
    measured 4→16 scaling bottleneck)."""
    from marky_spark.corpus import spark_corpus
    from marky_spark.pipeline import (
        bucket_sizes,
        plan_wave,
        skew_balanced,
        with_bucket,
    )

    path = str(tmp_path / "skewspans")
    spark_corpus(spark, 300, partitions=8, mega_every=50,
                 mega_factor=100).write.parquet(path)
    df = spark.read.parquet(path)
    wave = plan_wave(spark, bucket_sizes(with_bucket(df, 1)).values())
    assert wave.max_doc_bytes > wave.threshold_bytes  # the tail is split
    assert df.rdd.getNumPartitions() >= wave.tasks  # bulk needs no shuffle
    plan = plan_of(skew_balanced(df, wave))
    # union of two branches: exactly ONE exchange — the numbered round-robin
    # repartition of the tail; the bulk branch contributes none
    assert plan.count("Exchange") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_skew_balanced_without_tail_is_narrow(spark):
    """A wave whose largest doc is under the threshold is coalesced to
    its task count: no filter, no Union, no Exchange."""
    from pyspark.sql import functions as F

    from marky_spark.pipeline import (
        bucket_sizes,
        plan_wave,
        skew_balanced,
        with_bucket,
    )

    span = F.struct(F.lit("text").alias("kind"),
                    F.repeat(F.lit("x"), 100).alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"))
    df = spark.range(0, 400, numPartitions=8).select(
        F.format_string("d%d", "id").alias("doc_id"),
        F.array(span).alias("spans"))
    wave = plan_wave(spark, bucket_sizes(with_bucket(df, 1)).values())
    assert wave.max_doc_bytes == 100 <= wave.threshold_bytes
    out = skew_balanced(df, wave)
    plan = plan_of(out)
    for op in ("Exchange", "Union", "Filter"):
        assert op not in plan, plan
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 400


def test_gif_pipeline_is_fully_narrow(spark):
    """GIF generate → decode, like the PNG twin, is Arrow maps over the
    scan — zero Exchange."""
    from marky_spark.ops.multimodal import decode_pixels, synth_gif_media

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(decode_pixels(synth_gif_media(docs)))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 2  # encode stage + decode stage


def test_embedded_media_bridge_is_jvm_narrow(spark):
    """The merged front-door query stays shuffle-free end to end, and its
    data-URI BRIDGE branch (extract_embedded_media: explode + regexp +
    unbase64) stays entirely JVM-side — recovering a billion embedded
    images is a map, not a shuffle. The archive/WARC branches are
    Arrow-batched mapInPandas BY DESIGN (zipfile/tarfile/record walks);
    what matters at 100 TB is that none of the three branches introduces
    an Exchange and no branch uses row-at-a-time Python."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["embedded_media"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan   # no per-row Python anywhere
    assert "Generate" in plan  # the bridge branch's explode
    # the bridge branch alone (pre-merge shape) is still zero-Python:
    from pyspark.sql import functions as F

    from marky_spark.ops.multimodal import extract_embedded_media

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spans = docs.select(
        "doc_id",
        F.array(F.struct(
            F.lit("image").alias("kind"),
            F.concat(F.lit("![x](data:image/png;base64,"),
                     F.translate(F.base64(F.encode("text", "UTF-8")),
                                 "\r\n", ""),
                     F.lit(")")).alias("text"),
            F.lit("m").alias("media_ref"),
            F.lit(0).alias("offset"),
        )).alias("out_spans"),
    )
    bridge = plan_of(extract_embedded_media(spans))
    assert "Exchange" not in bridge, bridge
    assert "MapInPandas" not in bridge and "BatchEvalPython" not in bridge


def test_audio_pipeline_is_fully_narrow(spark):
    """WAV generate → audio_features, like the PNG/GIF twins, is Arrow
    maps over the scan — zero Exchange: per-blob audio decode never
    justifies a shuffle."""
    from marky_spark.ops.audio import audio_features, synth_wav_media

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(audio_features(synth_wav_media(docs)))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 2  # encode stage + feature stage


def test_avi_frame_pipeline_is_fully_narrow(spark):
    """AVI generate → frame_sample → decode_pixels is a chain of Arrow
    maps — zero Exchange even though one input row fans out to N frame
    rows (fan-out inside the Arrow batch, not through a shuffle)."""
    from marky_spark.ops.multimodal import (
        decode_pixels,
        frame_sample,
        synth_avi_media,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sampled = frame_sample(synth_avi_media(docs), n_frames=4)
    plan = plan_of(decode_pixels(
        sampled.selectExpr("media_ref", "frame_bytes as payload")))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 3  # encode + sample + decode
