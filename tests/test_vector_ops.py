"""Vector-operator tests without SQL twins: IVF recall, embedding stub
determinism, normalization."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from sortify_spark.functions.vectors import hash_embed_text, l2_normalize
from sortify_spark.search import knn
from sortify_spark.tables import load_table
from tests.conftest import SF_DIR


def test_hash_embed_deterministic_and_normalized():
    a = hash_embed_text("spark engine query", dim=64)
    b = hash_embed_text("spark engine query", dim=64)
    assert a == b
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-6
    assert hash_embed_text("", dim=8) == [0.0] * 8
    # token order matters only through the bag (sum) — permutation invariant
    c = hash_embed_text("query engine spark", dim=64)
    assert np.allclose(a, c)


def test_l2_normalize(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], ["id", "v"])
    out = df.select(l2_normalize(F.col("v")).alias("n")).first()["n"]
    assert abs(out[0] - 0.6) < 1e-12 and abs(out[1] - 0.8) < 1e-12


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=3 of 10 label buckets must recover most of the
    exact top-10 (embeddings cluster by label, so centroid routing is
    informative on this data)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    rest = emb.filter(F.col("vec_id") != 0)

    exact = {
        r["vec_id"]
        for r in knn.brute_force_topk(rest, q, k=10).collect()
    }
    centroids = knn.build_centroids(emb, "label")
    approx = {
        r["vec_id"]
        for r in knn.ivf_topk(rest, centroids, q, k=10, nprobe=3).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_centroids_match_numpy(spark):
    emb = load_table(spark, SF_DIR, "embeddings").toPandas()
    got = {
        r["bucket"]: np.array(r["centroid"])
        for r in knn.build_centroids(
            load_table(spark, SF_DIR, "embeddings"), "label"
        ).collect()
    }
    for label, grp in emb.groupby("label"):
        want = np.mean(np.stack(grp["embedding"].map(np.asarray)), axis=0)
        assert np.allclose(got[label], want, atol=1e-9), label


def test_embedding_neardup_rejects_unblocked(spark):
    """block_col=None is an all-pairs n² cliff — rejected unless the
    caller opts in explicitly."""
    import pytest

    from sortify_spark.dedup import embedding_neardup_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_neardup_topk(emb, block_col=None)
    # explicit opt-in still works on a small bounded input
    out = embedding_neardup_topk(
        emb.limit(50), block_col=None, k=5, allow_unblocked=True
    ).collect()
    assert len(out) == 5


def test_expr_embed_properties(spark):
    """md5 expression embedder invariants: unit norm for non-empty text,
    zero vector for empty/whitespace text, determinism across plans,
    512-char truncation parity with the facade query path."""
    import math

    from sortify_spark.functions.sql_embed import expr_embed

    texts = [
        ("a", "hello world"),
        ("b", "hello world"),  # same text → same vector
        ("c", ""),
        ("d", "   "),
        ("e", "one-token"),
        ("f", "x " * 600),  # long text
    ]
    df = spark.createDataFrame(texts, "id string, t string")
    out = {
        r["id"]: r["e"]
        for r in df.select("id", expr_embed("t", dim=8).alias("e")).collect()
    }
    assert out["a"] == out["b"]
    assert out["c"] == [0.0] * 8 and out["d"] == [0.0] * 8
    for k in ("a", "e", "f"):
        assert math.isclose(
            sum(x * x for x in out[k]) ** 0.5, 1.0, rel_tol=1e-9
        ), k
    # re-running the same plan is bit-identical
    out2 = {
        r["id"]: r["e"]
        for r in df.select("id", expr_embed("t", dim=8).alias("e")).collect()
    }
    assert out == out2


def test_expr_embed_duckdb_bit_parity(spark, duck):
    """The DuckDB rendering produces BIT-IDENTICAL embeddings (no
    rounding anywhere) — the property the whole e2e oracle family
    stands on."""
    from sortify_spark.functions import sql_embed as SE

    texts = ["the quick brown fox", "data pipeline quality", "x", ""]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {
        r["t"]: list(r["e"])
        for r in df.select(
            "t", SE.expr_embed("t", dim=6).alias("e")
        ).collect()
    }
    vals = ", ".join(f"('{t}')" for t in texts)
    sql = f"""
    WITH src(t) AS (VALUES {vals}),
    tok AS (SELECT t, {SE.tokens_sql('t')} AS toks FROM src),
    r AS (SELECT t, {SE.raw_embed_sql('toks', 6)} AS re FROM tok),
    n AS (SELECT t, re, {SE.norm_sql('re')} AS n0 FROM r)
    SELECT t, {SE.normalize_sql('re', 'n0')} AS e FROM n
    """
    want = {r[0]: list(r[1]) for r in duck.sql(sql).fetchall()}
    assert got == want  # exact float equality, not approx


def test_assign_nearest_centroid_np_matches_expression(spark):
    """The Arrow/BLAS nearest-centroid kernel must agree with the
    expression argmax (crossJoin + max_by over cosine) on every vector,
    including the lowest-bucket tie-break for duplicated centroids."""
    import pyspark.sql.functions as F

    from sortify_spark.functions.vectors import cosine
    from sortify_spark.search.knn import (
        assign_nearest_centroid_np,
        build_centroids,
    )

    rows = [
        (i, [(i * 7 + j * 3) % 11 - 5.0 for j in range(8)], i % 5)
        for i in range(60)
    ]
    vec = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, seed long"
    )
    cents = build_centroids(vec, "seed").persist()
    got = {
        r["vec_id"]: r["label"]
        for r in assign_nearest_centroid_np(vec, cents).collect()
    }
    scored = vec.crossJoin(
        F.broadcast(cents.select("bucket", "centroid"))
    ).select(
        "vec_id",
        "bucket",
        cosine(F.col("embedding"), F.col("centroid")).alias("sim"),
    )
    want = {
        r["vec_id"]: r["label"]
        for r in scored.groupBy("vec_id")
        .agg(
            F.max_by(
                "bucket", F.struct(F.col("sim"), -F.col("bucket"))
            ).alias("label")
        )
        .collect()
    }
    assert got == want


def test_pq_encode_np_matches_relational(spark):
    """The Arrow/BLAS PQ encoder must produce byte-identical codes to
    the oracle-checked relational encode (same integer-micro d2 grid,
    same lowest-cell tie-break) over the real embeddings table."""
    import pyspark.sql.functions as F

    from sortify_spark.search import pq
    from sortify_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    cb = pq.codebook(pq.elements(data)).persist()
    rel = {
        (r["vec_id"], r["s"]): r["code"]
        for r in pq.encode(pq.elements(data), cb).collect()
    }
    blas = {
        (r["vec_id"], r["s"]): r["code"]
        for r in pq.encode_np(data, cb).collect()
    }
    assert rel == blas and len(rel) == 499 * 8


def test_persisted_ivf_index_build_probe_and_time_travel(spark, tmp_path):
    """The IVF index as a durable artifact: build commits atomically
    through the versioned store (assignment partitioned BY BUCKET), a
    probe reads only the nprobe probed partitions and equals the exact
    top-k restricted to those buckets, and a pinned version keeps
    serving the OLD index after a rebuild."""
    import pyspark.sql.functions as F

    from sortify_spark.search.index import build_ivf_index, probe_ivf_index
    from sortify_spark.search.knn import brute_force_topk
    from sortify_spark.sources.versioned import read_versioned
    from sortify_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    v1 = build_ivf_index(
        emb.filter(F.col("vec_id") != 0), path, seed_col="label"
    )
    assert v1 == 1
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    got = probe_ivf_index(spark, path, query, k=10, nprobe=3)
    got_rows = [(r["vec_id"], r["score"]) for r in got.collect()]
    assert len(got_rows) == 10
    # probe == exact top-k restricted to the probed buckets
    assign = read_versioned(spark, f"{path}/assign", "bucket")
    probed_buckets = {r["bucket"] for r in got.join(
        assign.select("vec_id", "bucket"), "vec_id").collect()}
    restricted = assign.join(
        F.broadcast(spark.createDataFrame(
            [(b,) for b in probed_buckets], "bucket long")),
        "bucket", "left_semi")
    want = [
        (r["vec_id"], r["score"])
        for r in brute_force_topk(restricted, query, k=10).collect()
    ]
    assert got_rows == want
    # rebuild over a grown corpus: new version serves new data, the
    # pinned old version still serves the old index
    grown = emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 1).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            "label",
            "embedding",
        ).select("vec_id", "embedding", "label")
    ).select("vec_id", "label", "embedding")
    v2 = build_ivf_index(
        grown.filter(F.col("vec_id") != 0), path, seed_col="label"
    )
    assert v2 == 2
    new_ids = {
        r["vec_id"]
        for r in probe_ivf_index(spark, path, query, k=10).collect()
    }
    old_ids = {
        r["vec_id"]
        for r in probe_ivf_index(
            spark, path, query, k=10, version=1
        ).collect()
    }
    assert all(i < 1_000_000 for i in old_ids)
    assert old_ids != new_ids or any(i >= 1_000_000 for i in new_ids)


def test_persisted_ivf_index_rebuild_replaces_assignments(spark, tmp_path):
    """A rebuild is a full-snapshot REPLACE (ADVICE r5 medium): a
    vector whose nearest centroid moves between builds must not keep a
    stale row in its old bucket (no duplicate vec_ids across buckets),
    vectors dropped from the input disappear, and a pinned probe pairs
    the assign snapshot with ITS build's centroids even when the
    centroid table has extra commits (ADVICE r5 low)."""
    import pyspark.sql.functions as F

    from sortify_spark.search.index import build_ivf_index, probe_ivf_index
    from sortify_spark.sources.versioned import (
        overwrite_versioned,
        read_manifest,
        read_versioned,
    )
    from sortify_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    corpus = emb.filter(F.col("vec_id") != 0)
    build_ivf_index(corpus, path, seed_col="label")
    # rebuild with a DIFFERENT seeding (id-mod buckets): nearly every
    # assignment moves — the new snapshot must hold each vec_id exactly
    # once, in its new bucket
    v2 = build_ivf_index(corpus, path)
    assign = read_versioned(spark, f"{path}/assign", "bucket")
    dupes = (
        assign.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0
    assert assign.count() == corpus.count()
    got2 = [
        (r["vec_id"], r["score"])
        for r in probe_ivf_index(spark, path, query, k=10).collect()
    ]
    assert len({v for v, _ in got2}) == 10  # no duplicate ids in top-k
    # rebuild over a SHRUNK corpus: dropped vectors vanish from the
    # current snapshot but remain in the pinned one
    kept = corpus.filter(F.col("vec_id") % 3 != 0)
    build_ivf_index(kept, path)
    cur_ids = {
        r["vec_id"]
        for r in read_versioned(
            spark, f"{path}/assign", "bucket"
        ).select("vec_id").collect()
    }
    assert cur_ids == {
        r["vec_id"] for r in kept.select("vec_id").collect()
    }
    pinned_ids = {
        r["vec_id"]
        for r in read_versioned(
            spark, f"{path}/assign", "bucket", version=v2
        ).select("vec_id").collect()
    }
    assert any(i % 3 == 0 for i in pinned_ids)
    # centroid pairing: an out-of-band centroid commit (simulating a
    # crash between a later build's two commits) must not skew a pinned
    # probe — the assign manifest records its build's centroid version
    m2 = read_manifest(f"{path}/assign", v2)
    assert "centroid_version" in m2
    bogus = spark.createDataFrame(
        [(0, [9.9] * 8, 0)], "bucket long, centroid array<double>, part int"
    )
    overwrite_versioned(bogus, f"{path}/centroids", partition_col="part")
    got2_again = [
        (r["vec_id"], r["score"])
        for r in probe_ivf_index(
            spark, path, query, k=10, version=v2
        ).collect()
    ]
    assert got2_again == got2


def test_ivf_index_incremental_upsert(spark, tmp_path):
    """FAISS-add semantics: upsert_ivf_index assigns new vectors to the
    STORED centroids (quantizer unchanged — centroid table version
    still the build's), replaces an existing id that moved buckets
    without duplicating it — in ONE assign commit — and a probe over
    the upserted index finds the new vectors.  The pinned pre-upsert
    snapshot is unchanged."""
    import pyspark.sql.functions as F

    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
        upsert_ivf_index,
    )
    from sortify_spark.sources.versioned import (
        read_manifest,
        read_versioned,
    )
    from sortify_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 1))
    v1 = build_ivf_index(base, str(tmp_path / "ivf"), seed_col="label")
    path = str(tmp_path / "ivf")
    m1 = read_manifest(f"{path}/assign")
    assert m1["centroid_version"] == 1 and m1["built_rows"] > 0
    pre_bucket = {
        r["vec_id"]: r["bucket"]
        for r in read_versioned(spark, f"{path}/assign", "bucket")
        .select("vec_id", "bucket")
        .collect()
    }
    pre = set(pre_bucket)
    # add the held-out slice + REPLACE one existing id with a held-out
    # vector's embedding, choosing a victim the stored quantizer MOVES
    # to another bucket
    donor = emb.filter(F.col("vec_id") % 5 == 1).limit(1).collect()[0]
    cents = read_versioned(
        spark, f"{path}/centroids", "part", version=m1["centroid_version"]
    ).select("bucket", "centroid")
    donor_bucket = knn.assign_nearest_centroid_np(
        spark.createDataFrame(
            [(-1, [float(x) for x in donor["embedding"]])],
            "vec_id long, embedding array<double>",
        ),
        cents,
    ).first()["label"]
    victim_id = min(v for v, b in pre_bucket.items() if b != donor_bucket)
    adds = emb.filter(F.col("vec_id") % 5 == 1).select(
        "vec_id", "embedding"
    ).unionByName(
        spark.createDataFrame(
            [(victim_id, donor["embedding"])],
            "vec_id long, embedding array<float>",
        )
    )
    v2 = upsert_ivf_index(adds, path)
    # the move leaves the old bucket in the same commit that adds it
    # to the new one: exactly one new assign version
    assert v2 == v1 + 1
    m2 = read_manifest(f"{path}/assign")
    # quantizer pairing survives the upsert commits
    assert m2["centroid_version"] == 1
    cur = read_versioned(spark, f"{path}/assign", "bucket")
    ids = [r["vec_id"] for r in cur.select("vec_id").collect()]
    assert len(ids) == len(set(ids)), "duplicated id after move"
    assert set(ids) == pre | {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % 5 == 1)
        .select("vec_id")
        .collect()
    }
    # the replaced id carries the donor's embedding now (same bucket
    # assignment as the donor, by construction of the stored quantizer)
    vb = {
        r["vec_id"]: r["bucket"]
        for r in cur.select("vec_id", "bucket").collect()
    }
    assert vb[victim_id] == vb[donor["vec_id"]] == donor_bucket
    assert pre_bucket[victim_id] != vb[victim_id]  # the victim moved
    # probing with the donor embedding must surface both ids
    query = spark.createDataFrame(
        [(donor["embedding"],)], "embedding array<float>"
    )
    got = {
        r["vec_id"]
        for r in probe_ivf_index(spark, path, query, k=5, nprobe=2)
        .collect()
    }
    assert {victim_id, donor["vec_id"]} <= got
    # pinned pre-upsert snapshot unchanged
    old = read_versioned(spark, f"{path}/assign", "bucket", version=v1)
    assert {r["vec_id"] for r in old.select("vec_id").collect()} == pre


def test_ivf_upsert_requires_built_index(spark, tmp_path):
    """upsert_ivf_index on a never-built path fails loudly at the
    manifest check, before any assignment work."""
    import pytest

    from sortify_spark.search.index import upsert_ivf_index

    vecs = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(FileNotFoundError, match="build_ivf_index"):
        upsert_ivf_index(vecs, str(tmp_path / "nowhere"))


def test_ivf_filtered_probe_adaptive_escalation(spark, tmp_path):
    """Selective-tenant filtered ANN (VERDICT r10 #1): a tenant owning
    ~1% of the corpus probed at nprobe=1 under-recalls (here: zero
    rows); with min_candidates=k the probe escalates nprobe through
    the doubling schedule until >= k matching candidates are inside
    the probed buckets — for a tenant smaller than k that exhausts
    every bucket, so the escalated probe EQUALS the exact filtered
    scan, and the recorded trace shows the deterministic schedule."""
    from sortify_spark.search import index as ix
    from sortify_spark.search.knn import brute_force_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 97 == 3
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(data, path, seed_col="label", exact_assign=True)

    n_match = data.filter(pred).count()
    assert 0 < n_match < 10  # selective: smaller than k

    naive = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=1, pre_filter=pred
    ).collect()
    assert ix.PROBE_ESCALATION is None  # no escalation requested
    esc = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=1, pre_filter=pred,
        min_candidates=10,
    ).collect()
    trace = ix.PROBE_ESCALATION
    assert trace is not None and trace["exhaustive"]
    # doubling schedule: strictly increasing, last level counts all
    levels = trace["levels"]
    assert [p for p, _ in levels] == sorted({p for p, _ in levels})
    assert levels[-1][1] == n_match
    # escalated == exact filtered scan (recall restored to 1.0)
    exact = brute_force_topk(
        data.filter(pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in esc] == [
        (r["vec_id"], round(r["score"], 9)) for r in exact
    ]
    # and strictly better than the naive probe (which under-recalled)
    assert len(naive) < len(esc)


def test_ivf_probe_escalation_trace_is_per_thread(spark, tmp_path):
    """The escalation trace survives an interleaved probe on ANOTHER
    thread (r11 review finding): a long-lived serving engine handles
    concurrent searches, and with a plain module global the second
    probe's reset-to-None would clobber the first thread's readback.
    Sequence forced with events: thread A escalates, then thread B
    runs a plain probe (which resets ITS thread's trace), then A reads
    — A must still see its own trace and B must see None."""
    import threading

    from sortify_spark.search import index as ix

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 97 == 3
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(data, path, seed_col="label", exact_assign=True)

    a_probed = threading.Event()
    b_probed = threading.Event()
    out: dict = {}

    def thread_a():
        ix.probe_ivf_index(
            spark, path, query, k=10, nprobe=1, pre_filter=pred,
            min_candidates=10,
        ).collect()
        a_probed.set()
        assert b_probed.wait(120)
        out["a_trace"] = ix.PROBE_ESCALATION

    def thread_b():
        assert a_probed.wait(120)
        ix.probe_ivf_index(spark, path, query, k=10, nprobe=1).collect()
        out["b_trace"] = ix.PROBE_ESCALATION
        b_probed.set()

    ta = threading.Thread(target=thread_a)
    tb = threading.Thread(target=thread_b)
    ta.start(); tb.start()
    ta.join(240); tb.join(240)
    assert not ta.is_alive() and not tb.is_alive()
    assert out["b_trace"] is None
    assert out["a_trace"] is not None and out["a_trace"]["exhaustive"]


def test_ivf_filtered_probe_occupancy_aware_buckets(spark, tmp_path):
    """filter_buckets=True ranks only buckets CONTAINING matching rows,
    so nprobe counts the tenant's own buckets: with nprobe >= the
    tenant's occupied-bucket count the probe is provably exact, and a
    tenant owning nothing returns an empty (schema-correct) result."""
    from sortify_spark.search import index as ix
    from sortify_spark.search.knn import brute_force_topk
    from sortify_spark.sources.versioned import read_versioned

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 11 == 3  # ~9%: a mid-size tenant
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(data, path, seed_col="label", exact_assign=True)

    assign = read_versioned(spark, f"{path}/assign", "bucket")
    n_occ = assign.filter(pred).select("bucket").distinct().count()
    got = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=n_occ, pre_filter=pred,
        filter_buckets=True,
    ).collect()
    exact = brute_force_topk(
        data.filter(pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == [
        (r["vec_id"], round(r["score"], 9)) for r in exact
    ]
    # zero-match tenant: empty result, correct columns
    empty = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=4,
        pre_filter=F.col("vec_id") < 0, filter_buckets=True,
    )
    assert empty.count() == 0
    assert {"vec_id", "score"} <= set(empty.columns)


def test_ivf_owner_layout_lifecycle(spark, tmp_path):
    """Owner-aware artifact layout (VERDICT r10 #3): layout_col range-
    splits each bucket partition's files on the owner column with
    TIGHT per-file min/max stats, the layout is recorded in the
    manifest and survives upsert + compact, probes are value-identical
    to the unlayouted artifact, and compact does not fight the
    intended multi-file layout."""
    import glob
    import os

    import pyarrow.parquet as pq

    from sortify_spark.search import index as ix
    from sortify_spark.sources.versioned import compact, read_manifest

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "embedding",
        "label",
        F.pmod(F.col("vec_id"), F.lit(20)).alias("owner"),
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("owner") == 3

    plain = str(tmp_path / "plain")
    lay = str(tmp_path / "lay")
    ix.build_ivf_index(
        data, plain, seed_col="label", exact_assign=True,
        carry_cols=("owner",),
    )
    ix.build_ivf_index(
        data, lay, seed_col="label", exact_assign=True,
        carry_cols=("owner",), layout_col="owner", layout_files=4,
    )

    def owner_spans(path):
        """sorted (min, max) owner-stat pairs per bucket."""
        m = read_manifest(f"{path}/assign")
        out = {}
        for b, rel in m["partitions"].items():
            spans = []
            for f in glob.glob(
                os.path.join(f"{path}/assign", rel, "*.parquet")
            ):
                md = pq.read_metadata(f)
                mn = mx = None
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        col = md.row_group(rg).column(c)
                        if col.path_in_schema == "owner":
                            s = col.statistics
                            mn = s.min if mn is None else min(mn, s.min)
                            mx = s.max if mx is None else max(mx, s.max)
                spans.append((mn, mx))
            out[b] = sorted(spans)
        return out

    def assert_tight(spans):
        # multiple files per bucket, each covering a strict subset of
        # the 20-owner domain, and — the property pruning actually
        # needs (r11: the ntile+hash revision passed the weaker
        # span-width check while files overlapped) — files are
        # NON-OVERLAPPING except a shared roll-boundary value
        assert all(len(ss) > 1 for ss in spans.values()), spans
        for b, ss in spans.items():
            for mn, mx in ss:
                assert mx - mn < 19, (b, ss)
            for (_, hi1), (lo2, _) in zip(ss, ss[1:]):
                assert hi1 <= lo2, (b, ss)

    m_lay = read_manifest(f"{lay}/assign")
    assert m_lay["layout_col"] == "owner"
    assert_tight(owner_spans(lay))

    def probe(path):
        return [
            (r["vec_id"], round(r["score"], 9))
            for r in ix.probe_ivf_index(
                spark, path, query, k=10, nprobe=4, pre_filter=pred
            ).collect()
        ]

    assert probe(plain) == probe(lay)
    before = probe(lay)

    # upsert re-applies the layout (manifest-driven, no param passed)
    extra_rows = data.filter(F.col("vec_id") % 7 == 0).withColumn(
        "embedding", F.transform("embedding", lambda x: x * 1.0)
    )
    ix.upsert_ivf_index(extra_rows, lay, exact_assign=True)
    m2 = read_manifest(f"{lay}/assign")
    assert m2["layout_col"] == "owner"
    assert m2["layout_files"] == m_lay["layout_files"]
    assert_tight(owner_spans(lay))
    assert probe(lay) == before  # same keys re-upserted: no-op rows

    # compact: the intended multi-file layout is NOT fragmentation —
    # at most one converging pass, then stable, with the layout's
    # tight spans and the probe intact throughout
    first = compact(spark, f"{lay}/assign", "bucket")
    assert compact(spark, f"{lay}/assign", "bucket") is None, first
    assert_tight(owner_spans(lay))
    assert probe(lay) == before


def test_versioned_read_pre_filter_pushdown(spark, tmp_path):
    """The partition-restore projection in _read_partition_dirs uses
    input_file_name() (nondeterministic), so Catalyst refuses to push
    caller-side filters through it — pre_filter must land ON the scan
    node.  Assert both shapes: the caller-side filter does NOT reach
    the scan (the regression this guards), and pre_filter DOES."""
    from sortify_spark.search import index as ix
    from sortify_spark.sources.versioned import (
        _read_partition_dirs,
        read_manifest,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "embedding", "label",
        F.pmod(F.col("vec_id"), F.lit(20)).alias("owner"),
    )
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(
        data, path, seed_col="label", exact_assign=True,
        carry_cols=("owner",),
    )
    m = read_manifest(f"{path}/assign")
    rels = list(m["partitions"].values())
    pred = F.col("owner") == 3

    def scan_line(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return next(l for l in plan.splitlines() if "DataFilters" in l)

    above = scan_line(
        _read_partition_dirs(
            spark, f"{path}/assign", "bucket", rels,
            dtype=m.get("partition_dtype"),
        ).filter(pred)
    )
    assert "DataFilters: []" in above, above
    pushed = scan_line(
        _read_partition_dirs(
            spark, f"{path}/assign", "bucket", rels,
            dtype=m.get("partition_dtype"), pre_filter=pred,
        )
    )
    assert "owner" in pushed.split("DataFilters:", 1)[1].split(
        "Format:", 1
    )[0], pushed


@pytest.mark.slow
def test_ivf_batched_escalation_parity_with_single(spark, tmp_path):
    """Batched owner-scoped probes must not under-recall vs the single
    path: probe_ivf_index_many(min_candidates=k) escalates PER QUERY
    inside one plan (shared filter → one occupancy scan + per-query
    cumulative schedule pick) and each query's rows equal its single
    escalated probe's rows exactly."""
    from sortify_spark.search import index as ix

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", "embedding", "label",
        F.pmod(F.col("vec_id"), F.lit(97)).alias("owner"),
    )
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(
        data, path, seed_col="label", exact_assign=True,
        carry_cols=("owner",),
    )
    pred = F.col("owner") == 3
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("query_id"), "embedding"
    )
    batched = ix.probe_ivf_index_many(
        spark, path, queries, k=10, nprobe=1,
        pre_filter=pred, min_candidates=10,
    ).collect()
    got = {}
    for r in batched:
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["vec_id"], round(r["score"], 9))
        )
    for qrow in queries.collect():
        single = ix.probe_ivf_index(
            spark,
            path,
            spark.createDataFrame(
                [(qrow["embedding"],)], "embedding array<float>"
            ),
            k=10,
            nprobe=1,
            pre_filter=pred,
            min_candidates=10,
        ).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got.get(qrow["query_id"], [])) == want, qrow[
            "query_id"
        ]


def test_ivf_escalated_probe_survives_emptied_bucket(spark, tmp_path):
    """A delete can empty a bucket the centroids table still ranks;
    the delta-sliced escalation reads (r11) can then land a level
    ENTIRELY on such a bucket — a zero-path parquet read would raise.
    Empty the top-ranked bucket for a query, then escalate through it:
    the probe must return the exact filtered top-k from the surviving
    buckets."""
    from sortify_spark.search import index as ix
    from sortify_spark.search.knn import brute_force_topk
    from sortify_spark.sources.versioned import read_versioned

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(data, path, seed_col="label", exact_assign=True)

    # query = a stored vector; its own bucket ranks first
    probe_row = data.orderBy("vec_id").first()
    query = spark.createDataFrame(
        [(probe_row["embedding"],)],
        "embedding array<float>",
    )
    assign = read_versioned(spark, f"{path}/assign", "bucket")
    b = assign.filter(
        F.col("vec_id") == probe_row["vec_id"]
    ).first()["bucket"]
    victims = assign.filter(F.col("bucket") == b).select("vec_id")
    n_gone = victims.count()
    assert n_gone > 0
    ix.delete_from_ivf_index(victims, path)

    # selective filter (< k matches) so the schedule EXHAUSTS: the
    # escalated probe must then equal the exact filtered scan over
    # the surviving rows — while the first delta slice (the emptied
    # top-ranked bucket) contributes zero candidates without raising
    pred = F.col("vec_id") % 97 == 3
    survivors = read_versioned(spark, f"{path}/assign", "bucket")
    n_match = survivors.filter(pred).count()
    assert 0 < n_match < 10
    got = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=1,
        pre_filter=pred, min_candidates=10,
    ).collect()
    trace = ix.PROBE_ESCALATION
    assert trace is not None and trace["exhaustive"]
    assert trace["levels"][-1][1] == n_match
    exact = brute_force_topk(
        survivors.filter(pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == [
        (r["vec_id"], round(r["score"], 9)) for r in exact
    ]


@pytest.mark.slow
def test_ivf_batched_composed_occupancy_parity_with_single(
    spark, tmp_path
):
    """The COMPOSED owner-scoped default (VERDICT r11 #1):
    filter_buckets=True + min_candidates=k on the batched probe ranks
    only the tenant's occupied buckets and escalates per query within
    that universe — each query's rows equal its single composed
    probe's rows exactly; a zero-match tenant yields an empty
    (schema-correct) batch; and the batched path never touches this
    thread's PROBE_ESCALATION trace (escalation is in-plan)."""
    from sortify_spark.search import index as ix

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", "embedding", "label",
        F.pmod(F.col("vec_id"), F.lit(97)).alias("owner"),
    )
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(
        data, path, seed_col="label", exact_assign=True,
        carry_cols=("owner",),
    )
    pred = F.col("owner") == 3
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("query_id"), "embedding"
    )
    sentinel = {"levels": [(1, 99)], "nprobe_final": 1,
                "exhaustive": False}
    ix._set_probe_escalation(sentinel)
    batched = ix.probe_ivf_index_many(
        spark, path, queries, k=10, nprobe=1,
        pre_filter=pred, min_candidates=10, filter_buckets=True,
    ).collect()
    # batched escalation runs inside the plan — no trace clobber
    assert ix.PROBE_ESCALATION is sentinel
    ix._set_probe_escalation(None)
    got = {}
    for r in batched:
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["vec_id"], round(r["score"], 9))
        )
    for qrow in queries.collect():
        single = ix.probe_ivf_index(
            spark,
            path,
            spark.createDataFrame(
                [(qrow["embedding"],)], "embedding array<float>"
            ),
            k=10,
            nprobe=1,
            pre_filter=pred,
            min_candidates=10,
            filter_buckets=True,
        ).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got.get(qrow["query_id"], [])) == want, qrow[
            "query_id"
        ]
    # zero-match tenant: empty result, correct columns, no error
    empty = ix.probe_ivf_index_many(
        spark, path, queries, k=10, nprobe=1,
        pre_filter=F.col("owner") < 0, min_candidates=10,
        filter_buckets=True,
    )
    assert empty.count() == 0
    assert set(empty.columns) == {"query_id", "vec_id", "score", "rnk"}


@pytest.mark.slow
def test_ivf_probe_recall_floor(spark, tmp_path):
    """min_probe_buckets — the RECALL FLOOR (VERDICT r12 #1): for a
    DENSE tenant the candidate-count escalation stops with ≥ k
    candidates after a few buckets, but the true top-k can live in
    buckets it never read.  The floor (a) starts the schedule at
    min(floor, occupied) so the probe reads a SUPERSET of the
    unfloored probe's buckets — its top-k is never worse, (b) still
    escalates past the floor when candidates < k, (c) clamps at the
    tenant's occupied count — a huge floor IS the exact filtered
    scan."""
    from sortify_spark.search import index as ix
    from sortify_spark.search.knn import brute_force_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).withColumn(
        "seed", F.col("vec_id") % 40
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 2 == 1
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(data, path, seed_col="seed", exact_assign=True)

    def probe(**kw):
        rows = ix.probe_ivf_index(
            spark, path, query, k=10, nprobe=1, pre_filter=pred,
            min_candidates=10, filter_buckets=True, **kw,
        ).collect()
        trace = ix.PROBE_ESCALATION
        return rows, (trace or {}).get("nprobe_final", 1)

    unfloored, p_stop = probe()
    floored, p_floor = probe(min_probe_buckets=16)
    assert p_stop < 16  # dense tenant: escalation stopped early …
    assert p_floor == 16  # … and the floor raised the width
    exact = brute_force_topk(
        data.filter(pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).collect()
    exact_ids = {r["vec_id"] for r in exact}

    def recall(rows):
        return len({r["vec_id"] for r in rows} & exact_ids)

    # superset of buckets read → never-worse top-k (strict here)
    assert recall(floored) > recall(unfloored)
    # floor ≥ occupied count = the exact filtered scan
    huge, p_all = probe(min_probe_buckets=10_000)
    occupied = ix.ivf_tenant_occupancy(spark, path, pred)
    assert p_all == len(occupied)
    assert sorted(
        (r["vec_id"], round(r["score"], 6)) for r in huge
    ) == sorted((r["vec_id"], round(r["score"], 6)) for r in exact)
    # floor still escalates when candidates < k: a tenant smaller
    # than k exhausts every occupied bucket despite a small floor
    tiny_pred = F.col("vec_id") % 97 == 3
    rows = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=1, pre_filter=tiny_pred,
        min_candidates=10, filter_buckets=True, min_probe_buckets=2,
    ).collect()
    trace = ix.PROBE_ESCALATION
    assert trace is not None and trace["exhaustive"]
    tiny_exact = brute_force_topk(
        data.filter(tiny_pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).collect()
    assert sorted(
        (r["vec_id"], round(r["score"], 6)) for r in rows
    ) == sorted(
        (r["vec_id"], round(r["score"], 6)) for r in tiny_exact
    )


@pytest.mark.slow
def test_ivf_batched_recall_floor_parity_with_single(spark, tmp_path):
    """The batched probe's min_probe_buckets matches the single path
    per query exactly (the facade serves the SAME composed-plus-floor
    default on both paths — they must not differ in tenant recall)."""
    from sortify_spark.search import index as ix

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", "embedding",
        (F.col("vec_id") % 40).alias("seed"),
        F.pmod(F.col("vec_id"), F.lit(2)).alias("owner"),
    )
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(
        data, path, seed_col="seed", exact_assign=True,
        carry_cols=("owner",),
    )
    pred = F.col("owner") == 1
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("query_id"), "embedding"
    )
    batched = ix.probe_ivf_index_many(
        spark, path, queries, k=10, nprobe=3,
        pre_filter=pred, min_candidates=10, filter_buckets=True,
        min_probe_buckets=16,
    ).collect()
    got = {}
    for r in batched:
        got.setdefault(r["query_id"], []).append(
            (r["rnk"], r["vec_id"], round(r["score"], 9))
        )
    for qrow in queries.collect():
        single = ix.probe_ivf_index(
            spark,
            path,
            spark.createDataFrame(
                [(qrow["embedding"],)], "embedding array<float>"
            ),
            k=10,
            nprobe=3,
            pre_filter=pred,
            min_candidates=10,
            filter_buckets=True,
            min_probe_buckets=16,
        ).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got.get(qrow["query_id"], [])) == want, qrow[
            "query_id"
        ]


def test_ivf_probe_floor_trace_without_escalation(spark, tmp_path):
    """A floor-widened probe must be OBSERVABLE even when no
    min_candidates escalation was requested (r13 review): callers read
    buckets_read from PROBE_ESCALATION, so a floor that silently
    widened the probe would fabricate their I/O accounting."""
    from sortify_spark.search import index as ix

    emb = load_table(spark, SF_DIR, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).withColumn(
        "seed", F.col("vec_id") % 40
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 2 == 1
    path = str(tmp_path / "ivf")
    ix.build_ivf_index(data, path, seed_col="seed", exact_assign=True)
    rows = ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=3, pre_filter=pred,
        filter_buckets=True, min_probe_buckets=16,
    ).collect()
    trace = ix.PROBE_ESCALATION
    assert trace is not None and trace["nprobe_final"] == 16
    assert trace["levels"] == []  # widened by the floor, not escalated
    assert len(rows) == 10
    # un-widened probe still records nothing
    ix.probe_ivf_index(
        spark, path, query, k=10, nprobe=3, pre_filter=pred,
        filter_buckets=True, min_probe_buckets=2,
    ).collect()
    assert ix.PROBE_ESCALATION is None


def test_two_stage_materialize_stage1_identical_rows(spark):
    """The opt-in stage-1 checkpoint of fusion.two_stage_hybrid is a
    scheduling change only: rows (values AND order) must match the
    default plan, including when stage 2 returns nothing and every
    result row is backfill."""
    from sortify_spark.search import fusion

    summary = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("score")
    )
    chunks = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 3 + 10).cast("double").alias("score")
    )

    def fn(c):
        return chunks.join(F.broadcast(c), "id", "left_semi").filter(
            F.col("score") > 11
        )

    def fn_empty(c):
        return chunks.join(F.broadcast(c), "id", "left_semi").filter(
            F.col("score") > 1e9
        )

    for f in (fn, fn_empty):
        base = fusion.two_stage_hybrid(summary, f, stage1_k=10, top_k=5)
        ckpt = fusion.two_stage_hybrid(
            summary, f, stage1_k=10, top_k=5, materialize_stage1=True
        )
        assert base.collect() == ckpt.collect()


def test_two_stage_many_materialize_stage1_identical_rows(spark):
    """r14: the batched twin of the stage-1 checkpoint knob is a
    scheduling change only — per-group rows (values AND rnk) must match
    the default plan, including the all-backfill path."""
    from sortify_spark.search import fusion

    summary = spark.range(0, 80).select(
        (F.col("id") % 2).cast("string").alias("query_id"),
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    chunks = spark.range(0, 80).select(
        (F.col("id") % 2).cast("string").alias("query_id"),
        F.col("id"),
        (F.col("id") % 3 + 10).cast("double").alias("score"),
    )

    def fn(c):
        return chunks.join(
            F.broadcast(c), ["query_id", "id"], "left_semi"
        ).filter(F.col("score") > 11)

    def fn_empty(c):
        return chunks.join(
            F.broadcast(c), ["query_id", "id"], "left_semi"
        ).filter(F.col("score") > 1e9)

    for f in (fn, fn_empty):
        base = fusion.two_stage_hybrid_many(
            summary, f, stage1_k=10, top_k=5
        )
        ckpt = fusion.two_stage_hybrid_many(
            summary, f, stage1_k=10, top_k=5, materialize_stage1=True
        )
        key = ["query_id", "rnk"]
        assert sorted(base.collect(), key=lambda r: (r.query_id, r.rnk)) == \
            sorted(ckpt.collect(), key=lambda r: (r.query_id, r.rnk))


def test_vocab_embed_frame_bit_identical_and_gated(spark):
    """r14: the broadcast vocab-map embedding must be BIT-identical to
    the per-occurrence expr_embed fold (same token order, same IEEE op
    sequence), and must return None past the vocabulary-size gate so
    callers keep the unbounded-vocabulary fallback."""
    from sortify_spark.functions.sql_embed import (
        expr_embed,
        vocab_embed_frame,
    )
    from sortify_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    ref = docs.select(
        F.col("doc_id").alias("id"),
        expr_embed(F.col("text"), dim=8).alias("ea"),
    )
    got = vocab_embed_frame(docs, id_col="doc_id", dim=8, max_vocab=10**9)
    assert got is not None
    bad = (
        ref.join(got.withColumnRenamed("e", "eb"), "id")
        .filter(
            F.expr(
                "size(ea) <> size(eb) OR "
                "exists(zip_with(ea, eb, (x, y) -> x = y), z -> NOT z)"
            )
        )
        .count()
    )
    assert bad == 0
    assert ref.count() == got.count()
    # gate: vocabulary larger than the cap -> fall back (None)
    assert vocab_embed_frame(docs, id_col="doc_id", dim=8, max_vocab=1) is None
