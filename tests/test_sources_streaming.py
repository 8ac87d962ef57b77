"""Tests: persistence round-trips, streaming upsert, multimodal
plumbing, events, relational scaffolding."""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.sources.vault import (
    compact,
    load_ivf_index,
    open_or_create,
    rebuild_index,
    save_ivf_index,
)


def test_open_or_create_empty_then_roundtrip(spark, tmp_path):
    p = str(tmp_path / "vault")
    df = open_or_create(spark, p)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["vec_id", "embedding", "deleted"]
    again = open_or_create(spark, p)
    assert again.count() == 0


def test_ivf_index_roundtrip_preserves_metric(spark, embeddings, tmp_path):
    from astro_vectordb_spark.operators.ann import ivf_build, ivf_cell_stats

    p = str(tmp_path / "ivf")
    assigned, centroids = ivf_build(embeddings, k_cells=4, metric="euclidean")
    stats = ivf_cell_stats(assigned, centroids, metric="euclidean")
    save_ivf_index(assigned, centroids, p, cell_stats=stats, metric="euclidean")
    a2, c2, s2, meta = load_ivf_index(spark, p)
    # the reference forgets the metric on reload (hnsw.ts:794-810); we don't
    assert meta["metric"] == "euclidean"
    assert meta["k_cells"] == 4
    assert meta["dim"] == 64
    assert a2.count() == embeddings.count()
    assert s2 is not None and s2.count() == 4


def test_ivf_partition_pruning_in_plan(spark, embeddings, tmp_path):
    """The cell filter must reach the scan as a PartitionFilter."""
    from astro_vectordb_spark.operators.ann import ivf_build

    p = str(tmp_path / "ivf2")
    assigned, centroids = ivf_build(embeddings, k_cells=4)
    save_ivf_index(assigned, centroids, p)
    vectors = spark.read.parquet(p + "/vectors")
    plan = (
        vectors.filter(F.col("cell_id").isin([0, 1]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cell_id" in plan.split("PartitionFilters")[1][:200]


def test_save_sorted_and_compact_files(spark, embeddings, tmp_path):
    from astro_vectordb_spark.sources.vault import compact_files, save_embeddings

    p = str(tmp_path / "sorted")
    save_embeddings(embeddings.repartition(8), p)
    back = spark.read.parquet(p)
    assert back.count() == embeddings.count()
    import glob

    n_before = len(glob.glob(p + "/part-*"))
    compact_files(spark, p, 2)
    n_after = len(glob.glob(p + "/part-*"))
    assert n_after == 2 and n_after < n_before
    assert spark.read.parquet(p).count() == embeddings.count()


def test_compact_and_rebuild(spark, embeddings):
    from astro_vectordb_spark.operators.crud import tombstone_delete

    marked = tombstone_delete(embeddings, [1, 2, 3])
    live_rows = compact(marked)
    assert live_rows.count() == embeddings.count() - 3
    assigned, centroids, stats = rebuild_index(marked, k_cells=4)
    assert assigned.count() == embeddings.count() - 3
    assert centroids.count() == 4


def test_stream_upsert_keep_latest(spark, embeddings, tmp_path):
    """rate-source stream of updates merged into a versioned target;
    reads during the stream never race a commit (manifest swap)."""
    from astro_vectordb_spark.sources.versioned import commit_version, read_current
    from astro_vectordb_spark.streaming.upsert import foreach_batch_upsert

    target = str(tmp_path / "target")
    base = embeddings.select("vec_id", "embedding").limit(50)
    commit_version(base, target, 0)

    # stream: every rate tick updates vec_id = value % 10 with a
    # constant vector [tick, tick]-ish; keep-latest should retain ids
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(
            (F.col("value") % 10).alias("vec_id"),
            F.array(F.lit(9.9), F.lit(8.8)).cast("array<float>").alias("embedding"),
        )
    )
    q = foreach_batch_upsert(stream, target)
    try:
        deadline = time.time() + 40
        updated = 0
        while time.time() < deadline:
            time.sleep(2)
            # concurrent read mid-stream: always sees a complete version
            cur = read_current(spark, target)
            assert cur.count() == 50
            updated = cur.filter(F.size("embedding") == 2).count()
            if updated >= 10:
                break
    finally:
        q.stop()
    cur = read_current(spark, target)
    assert cur.count() == 50  # ids 0-9 updated in place, no dupes
    assert cur.filter(F.size("embedding") == 2).count() == 10


def test_streaming_windowed_counts_with_watermark(spark):
    """The SAME windowed_counts code runs on a stream: rate source ->
    watermark -> tumbling window -> memory sink (append mode proves the
    watermark closes windows)."""
    from astro_vectordb_spark.operators.events import windowed_counts

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
            (F.col("value") % 7).cast("double").alias("value"),
        )
        .withWatermark("ts", "2 seconds")
    )
    out = windowed_counts(stream, "1 second")
    q = (
        out.writeStream.format("memory")
        .queryName("wc_stream")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 40
        rows = 0
        while time.time() < deadline:
            time.sleep(2)
            rows = spark.sql("SELECT count(*) c FROM wc_stream").first()["c"]
            if rows >= 6:
                break
    finally:
        q.stop()
    assert rows >= 6  # windows emitted and finalized by the watermark
    agg = spark.sql(
        "SELECT window_start, event_type, n_events FROM wc_stream LIMIT 5"
    ).collect()
    assert all(r["n_events"] > 0 for r in agg)


def test_stateful_user_profiles_stream(spark):
    """applyInPandasWithState accumulates per-user state across
    micro-batches."""
    from astro_vectordb_spark.streaming.stateful import user_profiles_stream

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).alias("user_id"),
            F.lit(1.0).alias("value"),
        )
    )
    out = user_profiles_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 40
        ok = False
        while time.time() < deadline:
            time.sleep(2)
            rows = spark.sql(
                "SELECT user_id, max(n_events) n FROM profiles GROUP BY user_id"
            ).collect()
            # state accumulates: any user with n > one batch's worth
            # proves cross-batch state (each batch has ~rowsPerSecond/5
            # events per user per second, trigger ~ every few seconds)
            if len(rows) == 5 and all(r["n"] > 20 for r in rows):
                ok = True
                break
    finally:
        q.stop()
    assert ok, "per-user state did not accumulate across micro-batches"


def test_resize_blob(spark, documents):
    from astro_vectordb_spark.multimodal.binary import attach_blob, resize_blob

    blobs = attach_blob(documents.limit(10))
    out = resize_blob(blobs, target_bytes=64).collect()
    assert len(out) == 10
    for r in out:
        assert len(r["resized"]) <= 64
        assert r["orig_bytes"] > 0


def test_rolling_hash(spark):
    from astro_vectordb_spark.functions.text import rolling_hash

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "c b a"), (3, "")],
        "doc_id long, text string",
    )
    h = {r["doc_id"]: r["h"] for r in df.select("doc_id", rolling_hash(F.col("text")).alias("h")).collect()}
    assert h[0] == h[1]          # deterministic
    assert h[0] != h[2]          # order-sensitive
    assert h[3] == 0             # empty text
    assert all(0 <= v < 2_147_483_647 for v in h.values())


def test_multimodal_decode_plumbing(spark, documents):
    from astro_vectordb_spark.multimodal.binary import (
        FEATURE_DIM,
        attach_blob,
        decode_features,
        frame_sample,
    )

    blobs = attach_blob(documents.limit(20))
    row = blobs.first()
    assert row["n_bytes"] == len(row["text"].encode())
    assert len(row["content_sha"]) == 64

    feats = decode_features(blobs)
    frows = feats.collect()
    assert len(frows) == 20
    for r in frows:
        assert len(r["features"]) == FEATURE_DIM
        assert all(0 <= x <= 1 for x in r["features"])
    # determinism: same blob -> same features
    f2 = {r["doc_id"]: r["features"] for r in decode_features(blobs).collect()}
    assert all(f2[r["doc_id"]] == r["features"] for r in frows)

    frames = frame_sample(blobs, every_n_bytes=64, max_frames=4)
    assert frames.groupBy("doc_id").count().filter(F.col("count") > 4).count() == 0
    assert frames.count() >= 20


def test_multimodal_decode_media_type_routing(spark, documents):
    """Passing media_type_col keeps the same schema and — without
    Pillow, or for non-image media — the same deterministic fallback
    features as the plain call.  (With Pillow installed, image/* rows
    route through the real 4x4-thumbnail kernel instead.)"""
    from astro_vectordb_spark.multimodal.binary import (
        HAS_PIL,
        attach_blob,
        decode_features,
    )

    blobs = attach_blob(documents.limit(10))  # media_type application/text
    plain = {
        r["doc_id"]: r["features"] for r in decode_features(blobs).collect()
    }
    routed = {
        r["doc_id"]: r["features"]
        for r in decode_features(blobs, media_type_col="media_type").collect()
    }
    # application/text never matches image/*, so routing is a no-op
    # regardless of codec availability
    assert routed == plain
    if HAS_PIL:  # pragma: no cover - container has no Pillow
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (8, 8), color=128).save(buf, format="PNG")
        img_df = spark.createDataFrame(
            [(1, bytearray(buf.getvalue()), "image/png")],
            "doc_id long, blob binary, media_type string",
        )
        feats = decode_features(img_df, media_type_col="media_type").first()[
            "features"
        ]
        assert feats == [128 / 255.0] * 16


def test_windowed_counts_and_sessions(spark, sf_dir):
    from astro_vectordb_spark.operators.events import (
        event_type_rates,
        session_stats,
        sessionize,
        windowed_counts,
    )

    from astro_vectordb_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    wc = windowed_counts(events).collect()
    assert sum(r["n_events"] for r in wc) == events.count()

    s = sessionize(events, gap_minutes=30)
    # session ids are consistent: same count of rows, no nulls
    assert s.filter(F.col("session_id").isNull()).count() == 0
    assert s.count() == events.count()
    st = session_stats(events)
    assert st.count() == s.select("session_id").distinct().count()

    rates = event_type_rates(events).collect()
    assert abs(sum(r["share"] for r in rates) - 1.0) < 1e-3


def test_relational_scaffolding(spark, sf_dir):
    from astro_vectordb_spark.operators.relational import (
        customer_rank_in_nation,
        pricing_summary,
        revenue_topn,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    ps = pricing_summary(li).collect()
    assert len(ps) >= 1
    total = sum(r["count_order"] for r in ps)
    assert total == li.filter(F.col("l_shipdate") < "1998-09-01").count()

    top = revenue_topn(li, orders, cust, n=5).collect()
    assert len(top) == 5
    assert all(
        top[i]["revenue"] >= top[i + 1]["revenue"] for i in range(len(top) - 1)
    )

    ranked = customer_rank_in_nation(cust, nation)
    assert ranked.filter(F.col("rank_in_nation") > 3).count() == 0


def test_stream_index_ingest_live_hnsw(spark, embeddings, tmp_path,
                                      parquet_stream):
    """Streaming vectors land in the persisted sharded HNSW index and
    become searchable — the reference's live addPoint loop, one
    micro-batch at a time, touched shards only."""
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import load_hnsw_index, save_hnsw_index

    base = embeddings.filter(F.col("vec_id") < 300)
    graph = hnsw_build_shards(base, num_shards=2, ef_construction=64)
    p = str(tmp_path / "live_hnsw")
    save_hnsw_index(graph, p, m=16, metric="cosine")

    # the held-out vectors 300... stream in over three micro-batches
    held = embeddings.filter(F.col("vec_id") >= 300).select(
        "vec_id", "embedding"
    ).collect()
    rows = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in held]
    n_held = len(rows)
    stream = parquet_stream(
        "vec_id long, embedding array<float>",
        *(rows[i::3] for i in range(3)),
    )
    q = index.open(spark, p).stream_ingest(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    g, meta = load_hnsw_index(spark, p)
    assert g.count() == 300 + n_held
    # an appended vector is searchable (self-hit at score 1.0)
    probe = held[0]
    queries = spark.createDataFrame(
        [(int(probe["vec_id"]), [float(x) for x in probe["embedding"]])],
        "query_id long, query_vec array<float>",
    )
    hits = hnsw_query_shards(g, queries, k=5, m=meta["m"], ef_search=64)
    got = {r["vec_id"] for r in hits.collect()}
    assert int(probe["vec_id"]) in got


def test_ivf_append_to_index_storage_level(spark, embeddings, tmp_path):
    """Persisted IVF append: touched cells gain files (nothing
    rewrites), stats refresh keeps the exact search exact."""
    import glob
    import os

    from astro_vectordb_spark.operators.ann import (
        ivf_build_sampled,
        ivf_cell_stats,
        ivf_search_exact,
    )
    from astro_vectordb_spark.operators.topk import topk_search
    from astro_vectordb_spark.sources.vault import (
        load_ivf_index,
        save_ivf_index,
    )

    old = embeddings.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
    new = embeddings.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    assigned, centroids = ivf_build_sampled(old, k_cells=8)
    assigned = assigned.select("vec_id", "embedding", "cell_id")
    stats = ivf_cell_stats(assigned, centroids)
    p = str(tmp_path / "ivf_inc")
    save_ivf_index(assigned, centroids, p, cell_stats=stats)

    files_before = {
        d: set(glob.glob(os.path.join(p, "vectors", d, "*.parquet")))
        for d in os.listdir(os.path.join(p, "vectors"))
        if d.startswith("cell_id=")
    }
    index.open(spark, p).append(new)
    # pre-existing files all still present (append adds, never rewrites)
    for d, before in files_before.items():
        now = set(glob.glob(os.path.join(p, "vectors", d, "*.parquet")))
        assert before.issubset(now), f"cell {d} lost files"

    a2, c2, s2, meta = load_ivf_index(spark, p)
    assert a2.count() == embeddings.count()
    assert meta["metric"] == "cosine"

    # exact search over the reloaded index matches brute force for a
    # query AT an appended vector (stats refresh prevents false pruning)
    qv = embeddings.filter(F.col("vec_id") == 450).first()["embedding"]
    exact = [
        r["vec_id"]
        for r in topk_search(
            embeddings.select("vec_id", "embedding"), qv, 10, strength=0
        ).collect()
    ]
    got = [
        r["vec_id"]
        for r in ivf_search_exact(a2, c2, s2, qv, 10, nprobe_seed=2).collect()
    ]
    assert got == exact


def test_max_partition_bytes_two_letter_suffixes(spark):
    # Spark accepts '128mb'-style two-letter byte strings; the parser
    # must not choke on them (ADVICE r5)
    from astro_vectordb_spark.sources.vault import max_partition_bytes

    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    try:
        for raw, want in [
            ("128mb", 128 << 20), ("1gb", 1 << 30), ("64k", 64 << 10),
            ("134217728", 134217728), ("134217728b", 134217728),
            ("2kb", 2 << 10),
        ]:
            spark.conf.set(key, raw)
            assert max_partition_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, orig)


def test_hnsw_meta_on_scheme_qualified_uri(spark, embeddings, tmp_path):
    """The _meta/graph listings go through the Hadoop FileSystem API,
    so a scheme-qualified URI (file://... here; hdfs://, s3a:// in a
    real deployment) must round-trip save -> load -> append with a
    working shard list, clustered_safe bound, and cache token.  An
    os.listdir-based lister fails this with FileNotFoundError."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    small = embeddings.filter(F.col("vec_id") < 200)
    graph = hnsw_build_shards(small, num_shards=2, ef_construction=32)
    uri = "file://" + str(tmp_path / "hnsw_uri")
    save_hnsw_index(graph, uri, m=16, metric="cosine")

    g, meta = load_hnsw_index(spark, uri)
    assert sorted(meta["shard_ids"]) == [0, 1]
    assert meta["max_shard_file_bytes"] > 0
    assert meta["cache_token"].startswith("file:")
    tok1 = meta["cache_token"]
    n_before = g.count()

    new = embeddings.filter(F.col("vec_id") == 201).select("vec_id", "embedding")
    touched = index.open(spark, uri).append(new)
    assert len(touched) == 1
    g2, meta2 = load_hnsw_index(spark, uri)
    assert meta2["cache_token"] != tok1
    assert g2.count() == n_before + 1


def test_fingerprint_expr_normalizes(spark):
    from astro_vectordb_spark.streaming.dedup import fingerprint_expr

    df = spark.createDataFrame(
        [("Hello  World",), ("  hello world ",), ("hello world",), ("other",)],
        "text string",
    ).select(fingerprint_expr().alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]


def test_stream_dedup_exact_drops_repeats(spark):
    """dropDuplicatesWithinWatermark keyed on the content fingerprint:
    each distinct text survives once within the horizon."""
    from astro_vectordb_spark.streaming.dedup import stream_dedup_exact

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(
            F.col("timestamp").alias("ts"),
            F.concat(F.lit("doc "), (F.col("value") % 7).cast("string")).alias(
                "text"
            ),
        )
    )
    out = stream_dedup_exact(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 40
        ok = False
        while time.time() < deadline:
            time.sleep(2)
            rows = spark.sql(
                "SELECT text, count(*) AS n FROM dedup_stream GROUP BY text"
            ).collect()
            if len(rows) == 7:
                assert all(r["n"] == 1 for r in rows), rows
                ok = True
                break
    finally:
        q.stop()
    assert ok, "expected 7 unique texts exactly once each"


def test_first_seen_filter_counts_dups(spark):
    """applyInPandasWithState seen-bit: one is_first row per
    fingerprint ever; repeat batches carry suppressed counts."""
    from astro_vectordb_spark.streaming.dedup import first_seen_filter

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(
            F.concat(F.lit("d"), (F.col("value") % 5).cast("string")).alias(
                "text"
            )
        )
    )
    out = first_seen_filter(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 40
        ok = False
        while time.time() < deadline:
            time.sleep(2)
            rows = spark.sql(
                "SELECT fp, count_if(is_first) AS firsts, sum(n_dups) AS dups,"
                " count(*) AS batches FROM first_seen GROUP BY fp"
            ).collect()
            if len(rows) == 5 and all(r["batches"] >= 2 for r in rows):
                # exactly one first per fingerprint, repeats suppressed
                assert all(r["firsts"] == 1 for r in rows), rows
                assert all(r["dups"] > 0 for r in rows), rows
                ok = True
                break
    finally:
        q.stop()
    assert ok, "per-fingerprint first-seen state did not accumulate"


def test_stream_pq_ingest_live_index(spark, tmp_path, parquet_stream):
    """foreachBatch PQ ingest: streamed rows become searchable codes in
    the persisted index, encoded under the frozen codebooks."""
    import numpy as np

    from astro_vectordb_spark.operators.pq import pq_encode, pq_train
    from astro_vectordb_spark.sources.vault import save_pq_index

    rng = np.random.RandomState(5)
    pts = rng.normal(size=(200, 16)).astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    model = pq_train(base, m=4, ks=16, max_rows=200)
    path = str(tmp_path / "pq_stream_idx")
    save_pq_index(pq_encode(base, model), model, path)

    rows = [
        (100_000 + v, [0.1 * (v % 7 + i) for i in range(16)])
        for v in range(20)
    ]
    stream = parquet_stream(
        "vec_id long, embedding array<float>", rows[:10], rows[10:]
    )
    q = index.open(spark, path).stream_ingest(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.read.parquet(f"{path}/codes").count()
    assert n > 210, (
        "streamed rows never appeared in the codes table"
    )
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.filter("vec_id >= 100000").count() > 0
    row = codes.filter("vec_id >= 100000").first()
    assert len(row["pq_code"]) == 4


def test_stream_bm25_ingest_merges_stats(spark, tmp_path, parquet_stream):
    """foreachBatch BM25 ingest: streamed docs merge into the persisted
    term/corpus statistics via versioned commits."""
    from astro_vectordb_spark.operators.keyword import bm25_term_stats
    from astro_vectordb_spark.sources.vault import (
        load_bm25_index,
        save_bm25_index,
    )

    base = spark.createDataFrame(
        [(i, "spark merge join") for i in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25_stream_idx")
    ts, cs = bm25_term_stats(base)
    save_bm25_index(ts, cs, path)
    n0 = cs.first()["n"]

    stream = parquet_stream(
        "doc_id long, text string",
        [(1_000 + v, "hash scan sort") for v in range(10)],
        [(1_010 + v, "hash scan sort") for v in range(10)],
    )
    q = index.open(spark, path).stream_ingest(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _, cs2 = load_bm25_index(spark, path)
    assert cs2.first()["n"] > n0, (
        "streamed docs never merged into the corpus stats"
    )
    ts2, cs2 = load_bm25_index(spark, path)
    dfs = {r["term"]: r["df"] for r in ts2.collect()}
    # new vocabulary present, old df counts intact
    assert dfs.get("hash", 0) > 0 and dfs["spark"] == 20
    row = cs2.first()
    assert row["total_dl"] == 20 * 3 + (row["n"] - 20) * 3


class TestMultiTableCommit:
    """commit_version_multi: several tables behind ONE pointer — the
    BM25 atomicity fix (term_stats + corpus_stats + batch log can
    never be observed from different merges)."""

    def test_atomic_roundtrip(self, spark, tmp_path):
        from astro_vectordb_spark.sources.versioned import (
            commit_version_multi,
            read_current_multi,
        )

        path = str(tmp_path / "multi")
        a0 = spark.createDataFrame([(1, "x")], "id long, v string")
        b0 = spark.createDataFrame([(10,)], "n long")
        commit_version_multi({"a": a0, "b": b0}, path, 0)
        tables = read_current_multi(spark, path)
        assert set(tables) == {"a", "b"}
        assert tables["b"].first()["n"] == 10

    def test_partial_version_dir_is_invisible(self, spark, tmp_path):
        # crash mid-commit = a version dir exists but the pointer was
        # never swapped: readers must keep serving the old version,
        # and a replayed append must see the OLD batch log (so it
        # re-applies cleanly instead of double-counting)
        import os

        from astro_vectordb_spark.sources.versioned import (
            commit_version_multi,
            current_version,
            read_current_multi,
        )

        path = str(tmp_path / "crash")
        a0 = spark.createDataFrame([(1, "old")], "id long, v string")
        log0 = spark.createDataFrame([], "batch_id long")
        commit_version_multi({"a": a0, "batches": log0}, path, 0)
        # simulate the crash: v1 fully written, pointer NOT swapped
        a1 = spark.createDataFrame([(1, "new")], "id long, v string")
        log1 = spark.createDataFrame([(7,)], "batch_id long")
        a1.write.parquet(os.path.join(path, "v1", "a"))
        log1.write.parquet(os.path.join(path, "v1", "batches"))
        assert current_version(path) == "v0"
        tables = read_current_multi(spark, path)
        assert tables["a"].first()["v"] == "old"
        assert tables["batches"].count() == 0  # batch 7 NOT recorded

    def test_bm25_append_replay_after_clean_commit(self, spark, tmp_path):
        # batch log rides the SAME commit as the stats: once the
        # append is visible, its batch_id is too — replay is a no-op
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            load_bm25_index,
            save_bm25_index,
        )

        docs = spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(10)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "bm25_atomic")
        ts, cs = bm25_term_stats(docs.filter("doc_id < 5"))
        save_bm25_index(ts, cs, path)
        new = docs.filter("doc_id >= 5")
        assert index.open(spark, path).append(new, batch_id=42)[
            "appended_docs"
        ] == 5
        rep = index.open(spark, path).append(new, batch_id=42)
        assert rep.get("skipped_replay")
        _, cs2 = load_bm25_index(spark, path)
        assert cs2.first()["n"] == 10  # no double count


def _id_stream(parquet_stream):
    """Ids 0..49 in two micro-batches, the second one repeating ids of
    the first (removes of already-removed ids are no-ops)."""
    return parquet_stream(
        "vec_id long",
        [(v,) for v in range(30)],
        [(v,) for v in range(20, 50)],
    )


def test_stream_pq_remove_deletes_ids(spark, tmp_path, parquet_stream):
    """foreachBatch PQ delete: streamed vec_ids are physically removed
    from the persisted codes table (touched-files-only rewrite)."""
    import numpy as np

    from astro_vectordb_spark.operators.pq import pq_encode, pq_train
    from astro_vectordb_spark.sources.vault import save_pq_index

    rng = np.random.RandomState(1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    model = pq_train(df, m=4, ks=16, metric="cosine", max_rows=400)
    path = str(tmp_path / "pq_rm_stream")
    save_pq_index(pq_encode(df, model), model, path)

    q = index.open(spark, path).stream_remove(_id_stream(parquet_stream))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.read.parquet(f"{path}/codes").count()
    assert n <= 350, (
        "streamed removals never reached the codes table"
    )
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.filter("vec_id < 50").count() == 0
    assert codes.filter("vec_id >= 50").count() == 350


def test_pq_remove_batch_auto_compacts(spark, tmp_path):
    """The streaming delete's per-batch body (the shared runner's
    micro_batch over the handle's remove, with compact as the every-N
    hook — what ``stream_remove(compact_every=2)`` runs): every
    compact_every-th applied batch triggers codes-table compaction
    (delete traffic otherwise grows the file count without bound)."""
    import numpy as np

    from astro_vectordb_spark.operators.pq import pq_encode, pq_train
    from astro_vectordb_spark.sources.vault import save_pq_index
    from astro_vectordb_spark.streaming.upsert import micro_batch

    rng = np.random.RandomState(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    model = pq_train(df, m=4, ks=16, metric="cosine", max_rows=300)
    path = str(tmp_path / "pq_auto_cmp")
    # many small files so compaction has something to do
    save_pq_index(pq_encode(df.repartition(12), model), model, path)

    idx = index.open(spark, path)
    body = micro_batch(
        lambda b, bid: idx.remove(b.select("vec_id"), batch_id=bid), "t",
        every=2, maintain=idx.compact,
    )
    ids1 = spark.createDataFrame([(i,) for i in range(5)], "vec_id long")
    rep1 = body(ids1, 1)
    assert "maintenance" not in rep1  # batch 1 of 2: no trigger
    ids2 = spark.createDataFrame([(i,) for i in range(5, 10)], "vec_id long")
    rep2 = body(ids2, 2)
    assert rep2["maintenance"]["compacted"] is True
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == 290
    assert codes.filter("vec_id < 10").count() == 0
    # replayed batch never re-compacts or re-removes
    rep3 = body(ids2, 2)
    assert rep3.get("skipped_replay") and "maintenance" not in rep3


def test_stream_hnsw_remove_deletes_ids(spark, tmp_path, parquet_stream):
    """foreachBatch HNSW delete (r9): streamed vec_ids are physically
    removed from the persisted graph (edge sweep), and the shared
    index is safe because the replay log is namespaced per op."""
    import numpy as np

    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.sources.vault import save_hnsw_index

    rng = np.random.RandomState(2)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "hnsw_rm_stream")
    graph = hnsw_build_shards(df, num_shards=2, m=8, seed=5)
    save_hnsw_index(graph, path, m=8, metric="cosine")

    q = index.open(spark, path).stream_remove(_id_stream(parquet_stream))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.read.parquet(f"{path}/graph").count()
    assert n <= 350, (
        "streamed removals never reached the graph"
    )
    live = spark.read.parquet(f"{path}/graph")
    assert live.filter("vec_id < 50").count() == 0
    assert live.filter("vec_id >= 50").count() == 350


def test_stream_ivf_remove_deletes_ids(spark, tmp_path, parquet_stream):
    """foreachBatch IVF delete (r9): streamed vec_ids leave the
    cell-partitioned vectors table; touched cells' stats recompute."""
    import numpy as np

    from astro_vectordb_spark.operators.ann import ivf_build, ivf_cell_stats
    from astro_vectordb_spark.sources.vault import save_ivf_index

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    assigned, cents = ivf_build(df, k_cells=4)
    path = str(tmp_path / "ivf_rm_stream")
    save_ivf_index(
        assigned.select("vec_id", "embedding", "cell_id"), cents, path,
        cell_stats=ivf_cell_stats(assigned, cents),
    )

    q = index.open(spark, path).stream_remove(_id_stream(parquet_stream))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.read.parquet(f"{path}/vectors").count()
    assert n <= 350, (
        "streamed removals never reached the vectors table"
    )
    live = spark.read.parquet(f"{path}/vectors")
    assert live.filter("vec_id < 50").count() == 0
    assert live.filter("vec_id >= 50").count() == 350


class TestBM25Remove:
    """BM25 ``index.open(...).remove``: the lexical index's delete —
    exact statistic decrements, op-namespaced replay log."""

    def _docs(self, spark):
        rows = [(i, "alpha beta gamma") for i in range(6)]
        rows += [(i, "beta delta") for i in range(6, 10)]
        rows += [(10, "epsilon zeta epsilon")]  # unique vocab: must vanish
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_remove_equals_rebuild_on_survivors(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            load_bm25_index,
            save_bm25_index,
        )

        docs = self._docs(spark)
        path = str(tmp_path / "bm25_rm")
        ts, cs = bm25_term_stats(docs)
        save_bm25_index(ts, cs, path)

        removed = docs.filter("doc_id >= 8")  # 2 'beta delta' + the unique doc
        rep = index.open(spark, path).remove(removed)
        assert rep["removed_docs"] == 3

        ts2, cs2 = load_bm25_index(spark, path)
        ref_ts, ref_cs = bm25_term_stats(docs.filter("doc_id < 8"))
        got = sorted((r["term"], r["df"]) for r in ts2.collect())
        want = sorted((r["term"], r["df"]) for r in ref_ts.collect())
        assert got == want  # bit-identical to rebuild on survivors
        assert "epsilon" not in dict(got)  # fully-removed vocab dropped
        g, w = cs2.first(), ref_cs.first()
        assert (g["n"], g["total_dl"], g["avgdl"]) == (
            w["n"], w["total_dl"], w["avgdl"]
        )

    def test_strict_rejects_never_appended_docs(self, spark, tmp_path):
        import pytest as _pytest

        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = self._docs(spark)
        path = str(tmp_path / "bm25_rm_strict")
        ts, cs = bm25_term_stats(docs)
        save_bm25_index(ts, cs, path)
        alien = spark.createDataFrame(
            [(99, "omicron sigma")], "doc_id long, text string"
        )
        with _pytest.raises(ValueError, match="negative"):
            index.open(spark, path).remove(alien)

    def test_ingest_and_remove_batches_do_not_mask(self, spark, tmp_path):
        # an ingest stream and a remove stream each number micro-batches
        # from 0: (op, batch_id) namespacing keeps batch 0 of one from
        # suppressing batch 0 of the other, while each op's own replay
        # stays a no-op
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            load_bm25_index,
            save_bm25_index,
        )

        docs = self._docs(spark)
        path = str(tmp_path / "bm25_ns")
        ts, cs = bm25_term_stats(docs.filter("doc_id < 6"))
        save_bm25_index(ts, cs, path)

        new = docs.filter("doc_id >= 6 and doc_id < 10")
        assert index.open(spark, path).append(new, batch_id=0)[
            "appended_docs"
        ] == 4
        # remove stream's batch 0 must EXECUTE despite append batch 0
        rep = index.open(spark, path).remove(
            docs.filter("doc_id in (8, 9)"), batch_id=0
        )
        assert rep["removed_docs"] == 2 and not rep.get("skipped_replay")
        # each op's own redelivery is a no-op
        assert index.open(spark, path).append(new, batch_id=0).get(
            "skipped_replay"
        )
        assert index.open(spark, path).remove(
            docs.filter("doc_id in (8, 9)"), batch_id=0
        ).get("skipped_replay")
        _, cs2 = load_bm25_index(spark, path)
        assert cs2.first()["n"] == 8  # 6 + 4 - 2, applied exactly once each

    def test_legacy_oplness_log_matches_any_op(self, spark, tmp_path):
        # rows written before op-namespacing carry only batch_id; they
        # keep their historical match-any behavior for BOTH ops
        import os as _os

        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import save_bm25_index
        from astro_vectordb_spark.sources.versioned import (
            commit_version_multi,
        )

        docs = self._docs(spark)
        path = str(tmp_path / "bm25_legacy")
        ts, cs = bm25_term_stats(docs)
        save_bm25_index(ts, cs, path)
        legacy_log = spark.createDataFrame([(5,)], "batch_id long")
        commit_version_multi(
            {"term_stats": ts, "corpus_stats": cs, "batches": legacy_log},
            _os.path.join(path, "stats"), 1,
        )
        new = spark.createDataFrame(
            [(50, "alpha")], "doc_id long, text string"
        )
        assert index.open(spark, path).append(new, batch_id=5).get(
            "skipped_replay"
        )
        assert index.open(spark, path).remove(
            docs.filter("doc_id = 0"), batch_id=5
        ).get("skipped_replay")


def test_stream_bm25_remove_subtracts_stats(spark, tmp_path, parquet_stream):
    """foreachBatch BM25 delete: streamed (doc_id, text) rows subtract
    from the persisted term/corpus statistics — the erasure stream."""
    from astro_vectordb_spark.operators.keyword import bm25_term_stats
    from astro_vectordb_spark.sources.vault import (
        load_bm25_index,
        save_bm25_index,
    )

    base = spark.createDataFrame(
        [(i, "spark merge join") for i in range(5000)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25_rm_stream")
    ts, cs = bm25_term_stats(base)
    save_bm25_index(ts, cs, path)
    n0 = cs.first()["n"]

    stream = parquet_stream(
        "doc_id long, text string",
        [(v, "spark merge join") for v in range(20)],
        [(v, "spark merge join") for v in range(20, 40)],
    )
    q = index.open(spark, path).stream_remove(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _, cs2 = load_bm25_index(spark, path)
    assert cs2.first()["n"] < n0, (
        "streamed removals never left the corpus stats"
    )
    ts2, cs2 = load_bm25_index(spark, path)
    row = cs2.first()
    assert row["total_dl"] == row["n"] * 3  # exact decrements
    dfs = {r["term"]: r["df"] for r in ts2.collect()}
    assert dfs["spark"] == row["n"]  # df tracks the shrunken corpus
