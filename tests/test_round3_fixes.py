"""Round-3 regression pins: skipGram flat/dict within-row order parity,
negative-zero label rendering on the flat VW path, repair() recovering
an interrupted prior repair, and the simhash upper-triangle expansion."""

import os

import pandas as pd

import pytest
from pyspark.sql import functions as F

from aloha_spark.plans.pipeline import FeaturePipeline, _fmt17
from aloha_spark.plans.spec import PipelineSpec
from tests.featurize_oracle import vw_lines


def _collect(df, col, key="id"):
    return {r[key]: r[col] for r in df.collect()}


def _parity(spark, doc, rows, schema="id long, text string, w double"):
    df = spark.createDataFrame(rows, schema)
    flat = _collect(FeaturePipeline(PipelineSpec.from_json(doc))
                    .to_vw_lines(df, keep_cols=["id"]), "vw_line")
    dic = vw_lines(FeaturePipeline(PipelineSpec.from_json(doc)), df, "id")
    return flat, dic


@pytest.mark.parametrize("k", [1, 2, 3])
def test_vw_skipgrams_flat_matches_dict(spark, k):
    # multi-distance skip-grams: dict tier emits anchor-major
    # (a_b, a_c, b_c, ...); the flat kernel must match byte-for-byte
    doc = {"features": [{"name": "sg", "spec": f"skipGrams(${{text}}, 2, {k})"}],
           "namespaces": {}}
    rows = [(0, "a b c d e", 1.0), (1, "x y", 1.0), (2, None, 1.0),
            (3, "p q r p q", 2.0)]
    flat, dic = _parity(spark, doc, rows)
    assert flat == dic
    if k >= 2:
        # anchor-major order: a_b then a_c (not a_b, b_c, ..., a_c)
        line = flat[0]
        assert line.index("sg=a_b") < line.index("sg=a_c") < line.index("sg=b_c")


@pytest.mark.parametrize("spec", [
    "nGrams(${text}, 1)",
    "nGrams(${text}, 3)",
    "nGrams(${text}, 4)",
    "skipGrams(${text}, 3, 1)",
    "skipGrams(${text}, 3, 2)",
    "skipGrams(${text}, 1, 2)",
])
def test_vw_higher_order_grams_flat_matches_dict(spark, spec):
    # n != 2 grams now compile to the general flat kernel; parity with
    # the dict tier covers counts, key rendering, and within-row order
    doc = {"features": [{"name": "g", "spec": spec}], "namespaces": {}}
    rows = [(0, "a b c d e f", 1.0), (1, "x y z", 1.0), (2, None, 1.0),
            (3, "p p p p", 2.0), (4, "solo", 1.0), (5, "", 1.0),
            (6, "t_u v w_x y", 1.0)]   # tokens containing the separator
    flat, dic = _parity(spark, doc, rows)
    assert flat == dic


def test_higher_order_grams_compile_flat():
    doc = {"features": [{"name": "tri", "spec": "nGrams(${text}, 3)"},
                        {"name": "sg3", "spec": "skipGrams(${text}, 3, 2)"}],
           "namespaces": {}}
    pipe = FeaturePipeline(PipelineSpec.from_json(doc))
    assert all(fp.flat_fn is not None for fp in pipe.plan.features)


def test_vw_skipgram_and_bag_mixed_namespaces(spark):
    doc = {"features": [{"name": "sg", "spec": "skipGrams(${text}, 2, 2)"},
                        {"name": "bow", "spec": "bag(${text})"}],
           "namespaces": {"t": ["sg", "bow"]},
           "label": "${w}"}
    rows = [(0, "the cat sat on the mat", 1.0), (1, "a a a b", -0.5),
            (2, "", 3.0)]
    flat, dic = _parity(spark, doc, rows)
    assert flat == dic


def test_fmt17_negative_zero():
    # decimal_format canonicalizes "-0" -> "0", so both tiers agree on
    # "0"; the guard ensures -0.0 goes through that canonical path
    # rather than the int fast path (keeps parity by construction)
    from aloha_spark.functions.formatting import decimal_format
    assert _fmt17(-0.0) == decimal_format(-0.0, 17) == "0"
    assert _fmt17(0.0) == "0"
    assert _fmt17(2.0) == "2"


def test_vw_negative_zero_label_flat_matches_dict(spark):
    doc = {"features": [{"name": "b", "spec": "intercept()"}],
           "namespaces": {}, "label": "${w}", "importance": "${w}"}
    rows = [(0, "x", -0.0), (1, "y", 0.0)]
    flat, dic = _parity(spark, doc, rows)
    assert flat == dic
    assert flat[0].startswith("0 ")


def test_repair_recovers_interrupted_prior_repair(spark, tmp_path):
    """A repair that crashed after writing its commit marker must be
    finished by the NEXT repair() call, not silently read the stale
    pre-swap table (which would resurrect evicted bad-bucket rows)."""
    from aloha_spark.plans import lineage as L

    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    df = spark.range(100).select(
        F.col("id").cast("string").alias("conv_id"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"))
    L.write_with_lineage(df, out, lin, key="conv_id", num_buckets=4)

    # simulate: repair(buckets=[1]) crashed after the marker was written
    # (tmp holds the repaired table; the old table is still in place)
    keep = spark.read.parquet(lin).where(F.col(L.BUCKET_COL) != 1)
    tmp_tbl = L._repair_tmp(lin)
    keep.write.mode("overwrite").parquet(tmp_tbl)
    with open(L._local_path(L._repair_marker(lin)), "w") as f:
        f.write(L._local_path(tmp_tbl))

    # a direct repair() for a DIFFERENT bucket must first finish the
    # interrupted swap, so bucket 1's rows stay evicted
    L.repair(spark, lin, bad_buckets=[2])
    left = {r[L.BUCKET_COL] for r in
            spark.read.parquet(lin).select(L.BUCKET_COL).collect()}
    assert 1 not in left and 2 not in left
    assert not os.path.exists(L._local_path(L._repair_marker(lin)))


def test_sparse_vectors_arrow_tokenizer_hostile_text(spark):
    """to_sparse_vectors (mapInArrow -> arrow-native tokenize/encode)
    must equal the dict tier on text the C++ splitter can't handle
    directly: unicode whitespace, NULs, trailing/leading separators,
    all-whitespace, empties, NULLs."""
    rows = [
        (0, "plain ascii text"),
        (1, "x y unicode space"),
        (2, "a\x00b c \x00"),
        (3, "trail \t "),
        (4, " \t "),
        (5, ""),
        (6, None),
        (7, "ünïcode tökens mixed ascii"),
        (8, "  lead"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    doc = {"features": [{"name": "bow", "spec": "bag(${text})"},
                        {"name": "bi", "spec": "nGrams(${text}, 2)"}],
           "namespaces": {}}

    def vecs(impl_flat):
        pipe = FeaturePipeline(PipelineSpec.from_json(doc))
        if not impl_flat:
            for fp in pipe.plan.features:
                fp.flat_fn = None
        out = pipe.to_sparse_vectors(df, keep_cols=["id"]).toPandas()
        return out.sort_values("id").reset_index(drop=True)

    a, b = vecs(True), vecs(False)
    for i in range(len(rows)):
        assert list(a["indices"][i]) == list(b["indices"][i]), rows[i]
        assert list(a["values"][i]) == list(b["values"][i]), rows[i]
        assert list(a["missing_features"][i]) == \
            list(b["missing_features"][i]), rows[i]


def test_media_decoder_seam(spark):
    """A custom decoder callable plugs through extract_media_features;
    the default fake path is unchanged."""
    import numpy as np

    from aloha_spark.sources import multimodal as M

    docs = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(9)], "doc_id long, text string")
    media = M.synthesize_media(docs)

    calls = {"n": 0}

    def all_sevens(payload):
        calls["n"] += 1
        return np.full((2, 2, 3), 7, dtype=np.uint8)

    got = M.extract_media_features(media, decoder=all_sevens).toPandas()
    # the custom decoder runs on image rows only; audio/video are NULL
    # (a real codec would crash on non-image payloads)
    # image rows carry the custom decoder's constant; audio/video are
    # NULL — together these prove the decoder ran on image rows only
    # (a worker-side call counter can't assert this: the closure state
    # never returns to the driver)
    assert (got.loc[got["kind"] == "image", "mean_intensity"] == 7.0).all()
    assert got.loc[got["kind"] != "image", "mean_intensity"].isna().all()

    # default path still the deterministic fake (decoder=None, no codec
    # libs in this sandbox) — byte-stable stats
    base = M.extract_media_features(media, fake=True).toPandas()
    base2 = M.extract_media_features(media, fake=True).toPandas()
    assert base["crc"].tolist() == base2["crc"].tolist()
    pd.testing.assert_series_equal(base["mean_intensity"],
                                   base2["mean_intensity"])


def test_media_real_codec_golden():
    """Decode a 1x1 red PNG through the auto-detected decoder.  No
    longer environment-gated: the built-in pure-numpy PNG/BMP/PPM
    decoder (sources/multimodal.py::numpy_image_decoder) makes the
    autodetect chain always resolve — PIL/opencv merely take precedence
    when installed."""
    import numpy as np

    from aloha_spark.sources import multimodal as M

    assert M._autodetect_image_decoder() is not None
    # (the round-3 fixture bytes were malformed — wrong IDAT length +
    # CRC — which went unnoticed while this test was environment-
    # skipped; these are a spec-valid replacement, chunk CRCs verified)
    png_1x1_red = bytes.fromhex(
        "89504e470d0a1a0a0000000d4948445200000001000000010802000000"
        "907753de0000000c49444154789c63f8cfc0000003010100c9fe92ef"
        "0000000049454e44ae426082")
    img = M.decode_image(png_1x1_red)
    assert img.shape == (1, 1, 3)
    assert np.array_equal(img[0, 0], [255, 0, 0])


def test_video_frame_decoder_seam(spark):
    import numpy as np

    from aloha_spark.sources import multimodal as M

    def two_frames(payload, n):
        return [np.full((3, 3, 3), 10, dtype=np.uint8) for _ in range(2)]

    docs = spark.createDataFrame(
        [(2, "vid payload")], "doc_id long, text string")
    media = M.synthesize_media(docs)          # doc_id 2 -> kind 'video'
    got = M.extract_frame_features(media, n_frames=4,
                                   frame_decoder=two_frames).toPandas()
    assert len(got) == 2 and (got["mean_intensity"] == 10.0).all()


def test_simhash_pairs_upper_triangle(spark):
    from aloha_spark.operators.dedup import simhash_near_pairs

    rows = [(i, h) for i, h in
            [(1, 0x00000000000000F0), (2, 0x00000000000000F1),
             (3, 0x00000000000000F3), (4, 0x7FFF000000000000),
             (5, 0x00000000000000F0)]]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_near_pairs(df, max_hamming=3).collect()}
    # brute force oracle
    import itertools
    exp = {}
    for (a, ha), (b, hb) in itertools.combinations(rows, 2):
        d = bin(ha ^ hb).count("1")
        blocks = any(((ha >> (16 * i)) & 0xFFFF) == ((hb >> (16 * i)) & 0xFFFF)
                     for i in range(4))
        if d <= 3 and blocks:
            exp[(a, b)] = d
    assert got == exp
    assert all(a < b for a, b in got)


# --------------------------------------------------------------------------
# post-review fixes (round 3, second pass)

def test_decode_image_fake_outranks_autodetect(monkeypatch):
    """An explicit fake=True must win even when a codec lib is
    installed: fake payloads are not valid image bytes, so consulting
    the real codec would crash every task on a PIL-shipping cluster."""
    import numpy as np

    from aloha_spark.sources import multimodal as M

    def boom(payload):
        raise AssertionError("real codec consulted despite fake=True")

    monkeypatch.setattr(M, "_auto_decoder", boom)
    out = M.decode_image(b"not an image", fake=True)
    assert out.shape == (4, 4, 3)
    # ...and without fake, the auto-detected decoder IS used
    monkeypatch.setattr(M, "_auto_decoder",
                        lambda p: np.zeros((2, 3, 3), dtype=np.uint8))
    assert M.decode_image(b"x").shape == (2, 3, 3)


def test_arrow_tokenizer_ascii_control_whitespace_parity():
    """Python's \\s matches FS/GS/RS/US (\\x1c-\\x1f) but Arrow's
    ascii_split_whitespace does not; such rows must fall back to the
    per-row tokenizer to keep flat==dict byte parity."""
    import pandas as pd
    import pyarrow as pa

    from aloha_spark.functions.batch import TokenCache

    texts = ["a\x1cb", "x\x1d\x1ey z", "\x1f", "plain text",
             None, "", "  lead", "trail\x1e"]
    pdf = pd.DataFrame({"text": texts})
    rb = pa.RecordBatch.from_pandas(pdf)

    def norm(out):
        codes, uniq, row_ids, isna = out
        return ([uniq[c] for c in codes], row_ids.tolist(), isna.tolist())

    assert norm(TokenCache(pdf, rb).get_codes("text", r"\s+", None)) == \
        norm(TokenCache(pdf, None).get_codes("text", r"\s+", None))
    assert norm(TokenCache(pdf, rb).get_codes("text", r"\s+", "d")) == \
        norm(TokenCache(pdf, None).get_codes("text", r"\s+", "d"))


def test_spread_no_shuffle_for_single_splittable_file(spark, tmp_path):
    """inputFiles() count is not a proxy for scan partitions: one big
    splittable file already scans at >= defaultParallelism partitions,
    so _spread must NOT inject a full shuffle for it."""
    from aloha_spark.operators.dedup import _spread

    p = str(tmp_path / "one_big")
    spark.range(50000).selectExpr(
        "id", "md5(cast(id as string)) as a", "sha2(cast(id as string), 256) as b") \
        .coalesce(1).write.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) == 1
        assert df.rdd.getNumPartitions() >= \
            spark.sparkContext.defaultParallelism
        assert _spread(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_repartitions_underparallel_plan(spark):
    from aloha_spark.operators.dedup import _spread

    df = spark.range(100).coalesce(1)
    out = _spread(df)
    assert out.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism


def test_rb_to_pandas_matches_mapinpandas_timestamps(spark):
    """mapInArrow batches carry tz-AWARE timestamps; Spark's own
    mapInPandas hands the UDF tz-naive session-local values.  The
    manual conversion helper must match the latter (feature evaluation
    renders what it sees)."""
    import pandas as pd
    import pyarrow as pa

    from aloha_spark.plans.pipeline import _rb_to_pandas, _session_tz

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.sql("select timestamp'2024-06-01 12:34:56' as ts")
        tz = _session_tz(df)

        def via_pandas(it):
            for pdf in it:
                yield pd.DataFrame({"s": pdf["ts"].astype(str)})

        exp = df.mapInPandas(via_pandas, "s string").collect()[0].s

        def via_helper(it):
            for rb in it:
                pdf = _rb_to_pandas(rb, tz)
                yield pa.RecordBatch.from_pandas(
                    pd.DataFrame({"s": pdf["ts"].astype(str)}))

        def via_raw(it):
            for rb in it:
                pdf = pa.Table.from_batches([rb]).to_pandas()
                yield pa.RecordBatch.from_pandas(
                    pd.DataFrame({"s": pdf["ts"].astype(str)}))

        got = df.mapInArrow(via_helper, "s string").collect()[0].s
        raw = df.mapInArrow(via_raw, "s string").collect()[0].s
        assert got == exp == "2024-06-01 12:34:56"
        assert raw != exp          # the divergence the helper closes
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_vw_lines_parity_under_non_utc_session_tz(spark):
    """End-to-end guard: the Arrow-native line sink must produce the
    per-row oracle's bytes even when the session timezone is not UTC and a
    feature reads a timestamp variable."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        df = spark.sql(
            "select * from values "
            "(timestamp'2024-06-01 12:34:56', 'user'), "
            "(timestamp'2024-06-02 00:00:01', 'assistant') as t(ts, role)")
        pipe = FeaturePipeline(PipelineSpec.from_json({
            "features": [{"name": "t", "spec": "ind(${ts})"},
                         {"name": "r", "spec": "ind(${role})"}],
            "namespaces": {}, "numBits": 18}))
        flat = _collect(pipe.to_vw_lines(df, keep_cols=["role"]),
                        "vw_line", key="role")
        dic = vw_lines(pipe, df, "role")
        assert flat == dic
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_release_intermediates(spark):
    from aloha_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "common shingle text body number %d" % (i % 3))
         for i in range(30)], "doc_id long, text string")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    assert pairs.count() > 0
    assert D.release_intermediates(pairs) == 1
    assert D.release_intermediates(pairs) == 0   # idempotent
