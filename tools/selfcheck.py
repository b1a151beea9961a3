"""Local replica of the driver's correctness gate: run every queries()
entry on Spark at sf0.01, run the matching oracle_sql() on DuckDB over
the same parquet views, compare row count + (sorted-by-name) columns +
order-insensitive value hash.

Usage: python tools/selfcheck.py [sf_dir] [query ...]

Runs at ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU).  A full run
writes its report, per-row results included, to ``SELFCHECK.json`` at
the repo root (gitignored), or to ``$SELFCHECK_OUT`` relative to it; a
run of named queries only prints.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aloha_spark.tuning import worker_channel_confs  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\\N"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}" if abs(v) < 1e10 else repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = []
    for t in pdf[cols].itertuples(index=False):
        rows.append("\x1f".join(norm_cell(v) for v in t))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def property_gates(spark, sf_dir) -> dict:
    """Hard gates for the approx family whose outputs are not
    SQL-expressible: every rows-only query gets either an exact-subset
    + recall bound against its exact counterpart, or a determinism /
    content-sensitivity property.  A failed gate counts as a problem."""
    import itertools

    gates = {}

    def record(name, ok, detail):
        gates["gate_" + name] = {
            "status": "MATCH" if ok else "GATE_FAIL", "detail": detail}
        print(f"[{'GATE ok' if ok else 'GATE FAIL'}] {name}: {detail}")

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")

    # --- minhash LSH pairs: subset of exact-Jaccard pairs + recall ---
    import __spark_entry__ as em
    mh = em.queries()["dedup_minhash"](spark, sf_dir).toPandas()

    def shingles(t, n=3):
        toks = t.split() if isinstance(t, str) else []
        if len(toks) < n:
            return frozenset([" ".join(toks)]) if toks else frozenset()
        return frozenset(" ".join(toks[i:i + n])
                         for i in range(len(toks) - n + 1))

    sh = {r.doc_id: shingles(r.text) for r in docs.itertuples()}
    exact = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        u = len(sh[a] | sh[b])
        if u and len(sh[a] & sh[b]) / u >= 0.35:
            exact.add((a, b))
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
           for r in mh.itertuples()}
    subset_ok = got <= exact
    recall = len(got & exact) / len(exact) if exact else 1.0
    record("dedup_minhash", subset_ok and recall >= 0.7,
           f"subset={subset_ok} recall={recall:.3f} "
           f"(exact={len(exact)}, got={len(got)})")

    # --- embedding LSH pairs: subset of the exact oracle + recall ---
    lsh = em.queries()["embed_neardup_lsh"](spark, sf_dir).toPandas()
    ex = em.queries()["embed_neardup"](spark, sf_dir).toPandas()
    exact_e = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
               for r in ex.itertuples()}
    got_e = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
             for r in lsh.itertuples()}
    subset_ok = got_e <= exact_e
    recall = len(got_e & exact_e) / len(exact_e) if exact_e else 1.0
    record("embed_neardup_lsh", subset_ok and recall >= 0.5,
           f"subset={subset_ok} recall={recall:.3f} "
           f"(exact={len(exact_e)}, got={len(got_e)})")

    # --- simhash: deterministic + equal texts => equal hashes ---
    s1 = em.queries()["simhash"](spark, sf_dir).toPandas() \
        .set_index("doc_id")["simhash"]
    s2 = em.queries()["simhash"](spark, sf_dir).toPandas() \
        .set_index("doc_id")["simhash"]
    det = s1.sort_index().equals(s2.sort_index())
    by_text = docs.set_index("doc_id")["text"]
    groups = by_text.groupby(by_text).groups
    eq_ok = all(s1[list(ids)].nunique() == 1
                for t, ids in groups.items() if len(ids) > 1)
    record("simhash", det and eq_ok, f"deterministic={det} "
           f"equal_text_equal_hash={eq_ok}")

    # --- bpe_encode: determinism + zero-UNK + driver-replica parity
    # (the Spark Arrow kernel's counts/CRCs must equal a driver-side
    # re-encode with the same tokenizer, and decode must round-trip) ---
    import re as _re
    import zlib

    from aloha_spark.operators.tokenizer import train_bpe
    enc = em.queries()["bpe_encode"](spark, sf_dir).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    enc2 = em.queries()["bpe_encode"](spark, sf_dir).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    det = enc.equals(enc2)
    unk_ok = int(enc["n_unk"].sum()) == 0
    tok = train_bpe(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                    num_merges=64, min_pair_freq=2)
    idx = enc.set_index("doc_id")
    rt_ok = parity_ok = True
    for r in docs.itertuples():
        t = r.text if isinstance(r.text, str) else None
        ids = tok.encode(t)
        if tok.decode(ids) != ("".join(_re.findall(tok.pattern, t))
                               if t is not None else ""):
            rt_ok = False
        crc = zlib.crc32(",".join(str(i) for i in ids).encode())
        row = idx.loc[r.doc_id]
        if int(row["n_ids"]) != len(ids) or int(row["ids_crc"]) != crc:
            parity_ok = False
    record("bpe_encode", det and unk_ok and rt_ok and parity_ok,
           f"deterministic={det} zero_unk={unk_ok} round_trip={rt_ok} "
           f"kernel==driver_replica={parity_ok} "
           f"(merges=64, docs={len(docs)})")

    # --- semdedup: exact parity with an independent driver replica
    # (same deterministic centroid-fit protocol, greedy keep in
    # (centroid_sim, id) order) + dropped-has-kept-neighbor invariant ---
    import numpy as np
    from pyspark.sql import functions as F

    from aloha_spark.operators.similarity import _kmeans_fit
    sd = em.queries()["semdedup"](spark, sf_dir).toPandas() \
        .sort_values("vec_id").reset_index(drop=True)
    embp = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    units = {}
    for r in embp.itertuples():
        v = np.asarray(r.embedding, dtype=np.float64)
        units[r.vec_id] = v / max(np.linalg.norm(v), 1e-30)
    samp = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding")
            .orderBy(F.xxhash64(F.col("vec_id").cast("string"), F.lit(7)),
                     F.col("vec_id"))
            .limit(4096).collect())
    mm = np.asarray([np.asarray(r[1], dtype=np.float64) for r in samp])
    mm = mm / np.maximum(np.linalg.norm(mm, axis=1, keepdims=True), 1e-30)
    cent = _kmeans_fit(mm, 8, 7)
    by_cluster = {}
    for vid, u in units.items():
        sims = cent @ u
        c = int(np.argmax(sims))
        by_cluster.setdefault(c, []).append((float(sims[c]), vid, u))
    want_keep = {}
    for c, members in by_cluster.items():
        kept = []
        for s, vid, u in sorted(members, key=lambda t: (t[0], t[1])):
            if kept and max(float(k @ u) for k in kept) >= 0.42:
                want_keep[vid] = False
            else:
                want_keep[vid] = True
                kept.append(u)
    got_keep = dict(zip(sd["vec_id"], sd["keep"]))
    parity = got_keep == want_keep
    inv_ok = True
    got_cluster = dict(zip(sd["vec_id"], sd["cluster"]))
    kept_by_c = {}
    for vid, k in got_keep.items():
        if k:
            kept_by_c.setdefault(got_cluster[vid], []).append(units[vid])
    for vid, k in got_keep.items():
        if not k:
            ks = kept_by_c.get(got_cluster[vid], [])
            if not ks or max(float(u @ units[vid]) for u in ks) < 0.42:
                inv_ok = False
    n_drop = sum(1 for k in got_keep.values() if not k)
    record("semdedup", parity and inv_ok,
           f"replica_parity={parity} dropped_has_kept_neighbor={inv_ok} "
           f"(n={len(got_keep)}, dropped={n_drop})")

    # --- vw_lines: flat assembly byte-identical to the per-row oracle
    # (tests/featurize_oracle.py: dict bags + sinks.vw.labeled_vw_line
    # over the collected precomputed frame) ---
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    from tests.featurize_oracle import vw_lines
    vw_spec = {
        "features": [
            {"name": "bow", "spec": "bag(${text})"},
            {"name": "lang", "spec": "ind(${lang})"},
        ],
        "namespaces": {"t": ["bow"], "m": ["lang"]},
        "label": "${n_chars} / 1000.0"}
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = FeaturePipeline(PipelineSpec.from_json(vw_spec)) \
        .to_vw_lines(docs_df, keep_cols=["doc_id"]) \
        .toPandas().set_index("doc_id")["vw_line"].sort_index()
    dic = pd.Series(vw_lines(FeaturePipeline(PipelineSpec.from_json(vw_spec)),
                             docs_df, "doc_id")).sort_index()
    n_diff = int((flat != dic).sum()) if flat.index.equals(dic.index) \
        else len(flat)
    record("vw_lines", n_diff == 0,
           f"flat==oracle on {len(flat)} lines (diff={n_diff})")

    # --- libsvm_lines: parse back == to_sparse_vectors on same spec ---
    sv_spec = {"features": [{"name": "bow", "spec": "bag(${text})"}],
               "namespaces": {}}
    ls = FeaturePipeline(PipelineSpec.from_json(sv_spec)) \
        .to_libsvm_lines(docs_df, keep_cols=["doc_id"]) \
        .toPandas().set_index("doc_id")["libsvm_line"]
    vecs = FeaturePipeline(PipelineSpec.from_json(sv_spec)) \
        .to_sparse_vectors(docs_df, keep_cols=["doc_id"]) \
        .toPandas().set_index("doc_id")
    bad = 0
    for did, line in ls.items():
        entries = [e.split(":") for e in line.split()] if line else []
        got_iv = [(int(i), float(v)) for i, v in entries]
        want_iv = list(zip([int(x) for x in vecs.loc[did, "indices"]],
                           [float(x) for x in vecs.loc[did, "values"]]))
        if got_iv != want_iv:
            bad += 1
    record("libsvm_lines", bad == 0,
           f"parse(lines)==sparse_vectors on {len(ls)} rows (diff={bad})")

    # --- feature_vectors / media_features: determinism ---
    for qname in ("feature_vectors", "media_features"):
        a = em.queries()[qname](spark, sf_dir).toPandas()
        bdf = em.queries()[qname](spark, sf_dir).toPandas()
        key = a.columns[0]
        same = a.sort_values(key).reset_index(drop=True) \
            .equals(bdf.sort_values(key).reset_index(drop=True))
        record(qname, bool(same), f"two runs identical ({len(a)} rows)")

    # --- fingerprint: deterministic + content-sensitive ---
    f1 = em.queries()["doc_fingerprint"](spark, sf_dir).toPandas() \
        .set_index("doc_id")["fingerprint"]
    f2 = em.queries()["doc_fingerprint"](spark, sf_dir).toPandas() \
        .set_index("doc_id")["fingerprint"]
    det = f1.sort_index().equals(f2.sort_index())
    eq_ok = all(f1[list(ids)].nunique() == 1
                for t, ids in groups.items() if len(ids) > 1)
    distinct_frac = f1.nunique() / max(1, by_text.nunique())
    record("doc_fingerprint", det and eq_ok and distinct_frac > 0.5,
           f"deterministic={det} equal_text_equal_fp={eq_ok} "
           f"distinct_frac={distinct_frac:.3f}")

    # --- fingerprint vs DuckDB md5 sentinel: the partition of doc_ids
    # induced by the 64-bit rolling-hash fingerprint must equal the one
    # induced by an INDEPENDENT engine's content hash (DuckDB md5 of the
    # same text) — i.e. fingerprint is a pure, collision-free function
    # of content on this corpus, in both directions ---
    import duckdb as _duck
    sen = _duck.connect()
    md5 = sen.execute(
        f"SELECT doc_id, md5(COALESCE(text, '')) AS m FROM "
        f"read_parquet('{sf_dir}/documents.parquet')").df() \
        .set_index("doc_id")["m"]
    joined = pd.DataFrame({"fp": f1, "m": md5}).dropna()
    fp_per_md5 = joined.groupby("m")["fp"].nunique().max()
    md5_per_fp = joined.groupby("fp")["m"].nunique().max()
    record("fingerprint_md5_sentinel",
           fp_per_md5 == 1 and md5_per_fp == 1,
           f"fp-per-content={fp_per_md5} content-per-fp={md5_per_fp} "
           f"on {len(joined)} docs (DuckDB md5 partition == fp partition)")

    # --- sequence packing: exactly-once + budget safety + determinism
    # (pack membership is partitioning-dependent, so pack_stats is
    # rows-only — but these invariants must hold for ANY partitioning) ---
    import pyspark.sql.functions as sf
    from aloha_spark.operators.corpus import pack_sequences
    from aloha_spark.operators.textstats import with_token_stats
    pk_in = with_token_stats(docs_df).select(
        "doc_id", sf.col("token_count").cast("long").alias("n_tokens"))
    p1 = pack_sequences(pk_in, budget=256, num_partitions=8).toPandas()
    p2 = pack_sequences(pk_in, budget=256, num_partitions=8).toPandas()
    once = sorted(p1["doc_id"]) == sorted(docs["doc_id"])
    sums = p1.groupby("pack_id").agg(
        tot=("n_tokens", "sum"), n=("n_tokens", "size"),
        over=("oversized", "max"))
    budget_ok = bool(((sums["tot"] <= 256) | (sums["n"] == 1)).all())
    over_ok = bool((sums.loc[sums["over"], "n"] == 1).all()) and \
        bool((p1["oversized"] == (p1["n_tokens"] > 256)).all())
    det = p1.sort_values("doc_id").reset_index(drop=True) \
        .equals(p2.sort_values("doc_id").reset_index(drop=True))
    record("pack_stats", once and budget_ok and over_ok and det,
           f"exactly_once={once} budget_safe={budget_ok} "
           f"oversized_singletons={over_ok} deterministic={det} "
           f"({len(p1)} docs, {len(sums)} packs)")

    # --- streaming <-> batch dedup parity: the SAME corpus streamed
    # (dropDuplicatesWithinWatermark over content_digest) and batched
    # (exact_dedup) must agree on the keeper digest set — the two share
    # one digest definition by construction; this gate pins that it
    # stays shared ---
    import shutil
    import tempfile

    from aloha_spark.operators.dedup import exact_dedup
    from aloha_spark.streaming.dedup import streaming_exact_dedup
    tmpd = tempfile.mkdtemp(prefix="sc_stream_dedup_")
    try:
        src = (docs_df
               .select("doc_id", "text",
                       sf.timestamp_seconds(
                           sf.lit(1700000000) + sf.col("doc_id"))
                       .alias("ts")))
        src.write.mode("overwrite").parquet(tmpd + "/in")
        stream = (spark.readStream
                  .schema("doc_id long, text string, ts timestamp")
                  .parquet(tmpd + "/in"))
        q = (streaming_exact_dedup(stream, cols=["text"], ts_col="ts")
             .writeStream.format("memory").queryName("sc_sdedup")
             .outputMode("append")
             .option("checkpointLocation", tmpd + "/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = sorted(spark.sql(
            "select content_hash from sc_sdedup").toPandas()["content_hash"])
        batch = exact_dedup(spark.read.parquet(tmpd + "/in"), ["text"],
                            id_col="doc_id").toPandas()
        want = sorted(batch["content_hash"])
        uniq = len(got) == len(set(got))
        record("stream_batch_dedup", got == want and uniq,
               f"streamed keepers == batch digest set "
               f"({len(got)} vs {len(want)}, unique={uniq})")
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)

    # --- foreachBatch snapshot dedup: per-micro-batch append
    # visibility.  Two files -> two batches; with append_survivors the
    # digests batch 0 folds into the snapshot must dedup batch 1
    # WITHOUT a restart, and each fresh content ships exactly once ---
    from aloha_spark.operators.snapshot import write_dedup_snapshot
    from aloha_spark.streaming.dedup import snapshot_dedup_batch_sink
    tmpd = tempfile.mkdtemp(prefix="sc_fb_dedup_")
    try:
        snap = tmpd + "/snap"
        write_dedup_snapshot(
            spark.createDataFrame([(0, "snap content")],
                                  "doc_id long, text string"), snap)

        def _f(rows, path):
            spark.createDataFrame(
                rows, "doc_id long, text string") \
                .coalesce(1).write.parquet(path)

        _f([(1, "snap content"), (2, "fresh A")], tmpd + "/src/f1")
        _f([(3, "fresh A"), (4, "fresh B")], tmpd + "/src/f2")
        shipped = []

        def sink(df, _bid):
            shipped.extend(r.text for r in df.select("text").collect())

        q = (spark.readStream.schema("doc_id long, text string")
             .option("maxFilesPerTrigger", 1).parquet(tmpd + "/src/f*")
             .writeStream
             .foreachBatch(snapshot_dedup_batch_sink(
                 snap, sink, cols=["text"], append_survivors=True))
             .option("checkpointLocation", tmpd + "/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        ok = sorted(shipped) == ["fresh A", "fresh B"]
        record("stream_fb_snapshot_dedup", ok,
               f"per-batch append visibility: shipped={sorted(shipped)} "
               f"(want ['fresh A', 'fresh B'] — snapshot content "
               f"dropped, batch-0 survivor dedups batch 1 mid-run)")
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)

    return gates


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(
                 f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
             .appName("selfcheck")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .config(map=worker_channel_confs())
             .getOrCreate())

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:300]}
            print(f"[FAIL spark] {name}: {e}")
            continue
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(sdf),
                             "sec": round(time.time() - t0, 2)}
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:300]}
            print(f"[FAIL oracle] {name}: {e}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(map(str.lower, sdf.columns)) == \
            sorted(map(str.lower, odf.columns))
        h_s = value_hash(sdf) if ok_schema else None
        h_o = value_hash(odf) if ok_schema else None
        ok_hash = ok_schema and h_s == h_o
        status = "MATCH" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
        results[name] = {"status": status, "rows_spark": len(sdf),
                         "rows_oracle": len(odf), "schema_ok": ok_schema,
                         "hash_ok": ok_hash,
                         "sec": round(time.time() - t0, 2)}
        print(f"[{status}] {name}: spark={len(sdf)} oracle={len(odf)} "
              f"schema={ok_schema} hash={ok_hash} "
              f"({results[name]['sec']}s)")
        if status == "MISMATCH" and ok_schema:
            cols = sorted(sdf.columns)
            s_sorted = sdf[cols].sort_values(cols).reset_index(drop=True)
            o_sorted = odf[cols].sort_values(cols).reset_index(drop=True)
            print("  spark head:\n", s_sorted.head(3).to_string())
            print("  oracle head:\n", o_sorted.head(3).to_string())

    if not only:
        results.update(property_gates(spark, sf_dir))

    n_match = sum(1 for r in results.values() if r["status"] == "MATCH")
    n_bad = sum(1 for r in results.values()
                if r["status"] not in ("MATCH", "ROWS_ONLY"))
    print(f"\n== {n_match} MATCH, "
          f"{sum(1 for r in results.values() if r['status']=='ROWS_ONLY')} "
          f"rows-only, {n_bad} problems ==")
    if not only:
        # machine-readable report (readable without re-running):
        # full-registry runs only
        report = {
            "sf_dir": sf_dir,
            "n_match": n_match,
            "n_rows_only": sum(1 for r in results.values()
                               if r["status"] == "ROWS_ONLY"),
            "n_problems": n_bad,
            "results": results,
        }
        out = os.path.join(REPO, os.environ.get("SELFCHECK_OUT",
                                                "SELFCHECK.json"))
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
