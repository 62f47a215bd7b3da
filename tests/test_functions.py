"""Text / dedup / similarity / multimodal operator tests.

Every oracle-gated operator is cross-checked here exactly the way the
driver does it: run the Spark DataFrame op AND the generated DuckDB SQL
on the same parquet, compare values column-by-name.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    return con.sql(sql).df()


def _check_oracle(spark_df, oracle_pdf, sort_cols):
    got = spark_df.toPandas().sort_values(sort_cols, ignore_index=True)
    exp = oracle_pdf.sort_values(sort_cols, ignore_index=True)
    assert list(got.columns) == list(exp.columns) or set(got.columns) == set(exp.columns)
    exp = exp[got.columns.tolist()]
    assert len(got) == len(exp), f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if g.dtype.kind == "f":
            assert np.allclose(g.astype(float), e.astype(float), rtol=0, atol=0), c
        else:
            assert (g == e).all(), c
    return got


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


def whash_np(words) -> np.ndarray:
    """Word hash by definition: sum of the first 8 code points times
    31^i, mod P."""
    from external_merge_sort_loser_tree_ovc_spark.functions.texthash import P

    return np.array(
        [sum(ord(ch) * 31**i for i, ch in enumerate(w[:8])) % P for w in words],
        dtype=np.int64,
    )


def test_whash_np_matches_sql():
    from external_merge_sort_loser_tree_ovc_spark.functions import texthash as T
    from external_merge_sort_loser_tree_ovc_spark.functions.textops import _whash_np

    words = ["the", "a", "", "abcdefghijk", "Zz9 ~"]
    expect = whash_np(words)
    pdf = pd.DataFrame({"w": words})
    duckdb.register("wtab", pdf)
    got = duckdb.sql(f"SELECT {T.whash_sql('w')} AS h FROM wtab").fetchnumpy()["h"]
    assert (got == expect).all()
    assert (_whash_np(words) == expect).all()


def test_text_features_vs_oracle(spark, docs):
    from external_merge_sort_loser_tree_ovc_spark.functions.textops import (
        text_features_oracle_sql,
        with_text_features,
    )

    got = with_text_features(docs.select("doc_id", "text")).drop("text")
    exp = _duck(text_features_oracle_sql("documents", "doc_id"))
    out = _check_oracle(got, exp, ["doc_id"])
    assert out.token_count.min() >= 1
    assert set(out.lang_pred.unique()) <= {"en", "other"}


def test_exact_dedup_vs_oracle(spark, docs):
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        exact_dedup_oracle_sql,
        exact_dedup_survivors,
    )

    got = exact_dedup_survivors(docs, "doc_id")
    exp = _duck(exact_dedup_oracle_sql("documents", "doc_id"))
    _check_oracle(got, exp, ["survivor_id"])


def test_minhash_lsh_vs_oracle(spark, docs):
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        minhash_lsh_oracle_sql,
        minhash_lsh_pairs,
    )

    got = minhash_lsh_pairs(docs, "doc_id")
    exp = _duck(minhash_lsh_oracle_sql("documents", "doc_id"))
    out = _check_oracle(got, exp, ["id_a", "id_b"])
    # sanity: exact duplicate texts must be LSH candidates
    dups = _duck(
        "SELECT MIN(doc_id) AS a, MAX(doc_id) AS b FROM documents "
        "GROUP BY text HAVING COUNT(*) > 1"
    )
    if len(dups):
        pairs = set(zip(out.id_a, out.id_b))
        for a, b in zip(dups.a, dups.b):
            assert (a, b) in pairs


def test_ngram_jaccard_vs_oracle(spark, docs):
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        ngram_jaccard_oracle_sql,
        ngram_jaccard_pairs,
    )

    got = ngram_jaccard_pairs(docs, "doc_id")
    exp = _duck(ngram_jaccard_oracle_sql("documents", "doc_id"))
    out = _check_oracle(got, exp, ["id_a", "id_b"])
    assert len(out) > 0  # duplicates exist in the fixture corpus


def test_ann_topk_vs_oracle(spark, emb):
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_topk,
        ann_topk_oracle_sql,
    )

    qids = [0, 7, 21, 42]
    got = ann_topk(emb, qids, k=5)
    exp = _duck(ann_topk_oracle_sql("embeddings", qids, 5))
    _check_oracle(got, exp, ["query_id", "rank"])


def test_neardup_pairs_vs_oracle(spark, emb):
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        neardup_oracle_sql,
        neardup_pairs,
    )

    # pick a threshold that yields a non-trivial, non-huge pair set
    thr = int(
        _duck(neardup_oracle_sql("embeddings", 10**18))["dist2"].quantile(0.001)
    )
    got = neardup_pairs(emb, thr)
    exp = _duck(neardup_oracle_sql("embeddings", thr))
    out = _check_oracle(got, exp, ["id_a", "id_b"])
    assert len(out) > 0


def test_cosine_neardup_vs_oracle_and_exact(spark, emb):
    """Embedding-cosine near-dup: the shared-SQL normalization must
    make the LSH path, the exact path, and the DuckDB oracle agree
    bit-for-bit; and the pair set must genuinely differ from the L2
    query's at the gate thresholds (norms vary, so cosine is not a
    reparameterized L2)."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        cosine_neardup_oracle_sql,
        cosine_neardup_pairs,
        neardup_pairs,
    )
    from external_merge_sort_loser_tree_ovc_spark.queries import (
        COSINE_NEARDUP_DIST2,
        NEARDUP_DIST2,
    )

    key = lambda d: set(zip(d.id_a, d.id_b, d.dist2))  # noqa: E731
    got = cosine_neardup_pairs(emb, COSINE_NEARDUP_DIST2).toPandas()
    exact = cosine_neardup_pairs(emb, COSINE_NEARDUP_DIST2, method="exact").toPandas()
    exp = _duck(cosine_neardup_oracle_sql("embeddings", COSINE_NEARDUP_DIST2))
    assert len(got) > 0
    assert key(got) == key(exact) == key(exp)
    l2 = neardup_pairs(emb, NEARDUP_DIST2).toPandas()
    assert {(a, b) for a, b, _ in key(got)} != {(a, b) for a, b, _ in key(l2)}


def test_neardup_partition_count_invariance(spark, emb):
    """r4 regression guard: the fallback band's cogroup silently lost
    pairs when its two grouping-key types differed (int32 explode vs
    int64 pmod) — and the loss was PARTITIONING-dependent: 15/15 oracle
    pairs at 8 shuffle partitions (why CI was green), 9/15 under the
    driver's config, 1/15 at 200.  The pair set must be identical
    across partition counts and equal to the exact path's."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        neardup_oracle_sql,
        neardup_pairs,
    )

    thr = int(
        _duck(neardup_oracle_sql("embeddings", 10**18))["dist2"].quantile(0.001)
    )
    key = lambda d: set(zip(d.id_a, d.id_b, d.dist2))  # noqa: E731
    old = spark.conf.get("spark.sql.shuffle.partitions")
    got = {}
    try:
        for parts in (8, 64):
            # conf is read BOTH at plan build (grid size) and execution
            # (shuffle fan-out) — set it around the whole round trip
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got[parts] = key(neardup_pairs(emb, thr).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    exact = key(neardup_pairs(emb, thr, method="exact").toPandas())
    assert len(exact) > 0
    assert got[8] == exact
    assert got[64] == exact


def test_neardup_probe_gate_population_is_mixed(spark, emb):
    """q_ann_neardup_probe exists to driver-verify the UNDER-cap
    multi-probe path (at NEARDUP_DIST2 every gate row is over-cap and
    only the fallback band runs — r4 verdict #4).  Contract: at
    NEARDUP_PROBE_DIST2 the derived paired fixture must keep BOTH
    bands populated — some rows under-cap (probe equi-join) and some
    over-cap (fallback) — or the second gate query stops testing what
    it was added for."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        _bucketize_frame,
    )
    from external_merge_sort_loser_tree_ovc_spark.queries import NEARDUP_PROBE_DIST2

    # rebuild the same derived fixture the gate query uses
    from pyspark.sql import functions as F

    d = emb.select(
        F.explode(F.array(F.lit(0), F.lit(1))).alias("c"), "vec_id", "embedding"
    ).select(
        (F.col("vec_id") * 2 + F.col("c")).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 AND c = 1 "
            "THEN CAST(x AS DOUBLE) + 0.05 ELSE CAST(x AS DOUBLE) END)"
        ).alias("embedding"),
    )
    pdf = d.toPandas()
    out = _bucketize_frame(
        pdf,
        id_col="vec_id",
        vec_col="embedding",
        n_planes=8,
        thr=NEARDUP_PROBE_DIST2,
        probe=True,
        max_probe_planes=4,
    )
    n_over = (out.bucket == -1).sum()
    n_under_rows = out[out.bucket >= 0].vid.nunique()
    frac_under = n_under_rows / pdf.vec_id.nunique()
    assert n_over > 0, "no over-cap rows: fallback band untested"
    assert 0.2 <= frac_under <= 0.8, (
        f"under-cap fraction {frac_under:.0%} outside the mixed band"
    )


def test_gram_topk_group_boundary_ties_property():
    """_gram_topk_group is the shared rerank kernel under three gate
    queries (IVF, LSH, and the flagship's ANN composition).  Its top-k
    uses argpartition + a sort of only the boundary-tie candidate set —
    property-check that against a FULL lexsort reference on adversarial
    data where most distances tie (few distinct coordinate values, so
    the k-th-smallest boundary is a fat tie class resolved by
    neighbor_id)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        _gram_topk_group,
        _quantize_np,
    )

    @settings(
        max_examples=60,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        n_vec=st.integers(2, 40),
        n_q=st.integers(1, 6),
        k=st.integers(1, 8),
        dim=st.integers(1, 4),
        n_vals=st.integers(1, 3),  # tiny alphabet -> massive tie classes
        seed=st.integers(0, 2**31 - 1),
        chunk=st.sampled_from([1, 3, 1 << 23]),  # force multi-chunk paths
    )
    def run(n_vec, n_q, k, dim, n_vals, seed, chunk):
        import external_merge_sort_loser_tree_ovc_spark.functions.similarity as S

        S.GRAM_CHUNK_ELEMS = chunk  # query-side chunking must be invisible
        rng = np.random.default_rng(seed)
        vals = rng.integers(0, n_vals, size=(n_vec, dim)) / 1000.0
        qvals = vals[rng.integers(0, n_vec, size=n_q)]  # queries among ties
        vids = rng.permutation(n_vec * 3)[:n_vec].astype(np.int64)
        qids = vids[rng.integers(0, n_vec, size=n_q)].astype(np.int64)
        left = pd.DataFrame({"query_id": qids, "qe": list(qvals)})
        right = pd.DataFrame({"vid": vids, "e": list(vals)})
        got = _gram_topk_group(left, right, k)
        # full-lexsort reference
        qm, pm = _quantize_np(qvals), _quantize_np(vals)
        exp_rows = []
        for j in range(n_q):
            d2 = ((qm[j][None, :] - pm) ** 2).sum(axis=1)
            mask = vids != qids[j]
            cid, cd = vids[mask], d2[mask]
            order = np.lexsort((cid, cd))[: min(k, len(cid))]
            for o in order:
                exp_rows.append((qids[j], cid[o], cd[o]))
        # duplicate qids collapse: compare per-query result SETS (a qid
        # drawn twice yields identical rows in both; sort+dedup aligns)
        gset = sorted(set(zip(got.query_id, got.neighbor_id, got.dist2)))
        eset = sorted(set(exp_rows))
        assert gset == eset

    import external_merge_sort_loser_tree_ovc_spark.functions.similarity as S

    default_chunk = S.GRAM_CHUNK_ELEMS
    try:
        run()
    finally:
        S.GRAM_CHUNK_ELEMS = default_chunk


def test_connected_components_vs_union_find(spark):
    """Min-label propagation vs a plain union-find on adversarial
    shapes: a long PATH (worst diameter for label propagation), a
    clique, a star, singleton-free isolated edges, and a random
    multi-component graph — all under one run, labels must equal the
    min-id component from union-find."""
    from external_merge_sort_loser_tree_ovc_spark.functions.graph import (
        connected_components,
    )

    edges = []
    edges += [(i, i + 1) for i in range(100, 115)]  # path, diameter 15
    edges += [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]  # clique
    edges += [(300, x) for x in range(301, 310)]  # star
    edges += [(400, 401), (402, 403), (404, 405)]  # isolated edges
    rng = np.random.default_rng(7)
    nodes = rng.integers(500, 560, size=40)
    edges += [(int(a), int(b)) for a, b in zip(nodes[::2], nodes[1::2]) if a != b]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    expect = {n: comp_min[find(n)] for n in parent}

    df = spark.createDataFrame(
        pd.DataFrame({"id_a": [a for a, _ in edges], "id_b": [b for _, b in edges]})
    ).repartition(8)
    got = connected_components(df).toPandas()
    assert dict(zip(got.node, got.component)) == expect


def test_connected_components_long_chain_log_rounds(spark):
    """r5 verdict #4: a 10k-hop chain (adversarial near-dup diameter)
    must converge in O(log diameter) rounds, not O(diameter).  With
    pointer doubling, label information crosses distance 2^r after r
    rounds, so max_iter=18 (log2(10000) ~ 13.3 plus slack) must
    suffice where pure propagation would need ~10k rounds — the
    max_iter cap doubles as the round-count pin: exceeding it raises."""
    from external_merge_sort_loser_tree_ovc_spark.functions.graph import (
        connected_components,
    )

    n = 10_000
    base = 1_000_000
    df = spark.range(n - 1).selectExpr(
        f"id + {base} AS id_a", f"id + {base} + 1 AS id_b"
    ).repartition(8)
    # each round's labels are a local checkpoint, on which unpersist()
    # does nothing; of the ~14 rounds' checkpoints only the result's stays
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = set(jsc.getPersistentRDDs().keys())
    got = connected_components(df, max_iter=18).toPandas()
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    assert len(got) == n
    assert (got.component == base).all()


def test_decontamination_plan_build_launches_no_job(spark):
    """r5 verdict #5: the fractional stop-gram cap used to run a
    ``df.count()`` at plan-BUILD time — a full corpus scan before the
    real job at 100 TB.  The cap is now a broadcast scalar aggregate
    inside the plan, so building the DataFrame must launch zero Spark
    jobs (counted via the app status store)."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        decontamination_flags,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("decontam_plan_probe", "plan-build job probe")
    try:
        flagged = decontamination_flags(
            docs, "doc_id", eval_mod=97, min_shared=20, df_cap_frac=0.128
        )
        built_jobs = sc.statusTracker().getJobIdsForGroup("decontam_plan_probe")
    finally:
        sc.setJobGroup(None, None)
    assert built_jobs == [], (
        f"plan build launched Spark job(s) {built_jobs} — corpus count not "
        "folded into plan"
    )
    # and the folded plan still executes
    assert flagged.count() > 0


def test_ann_plan_build_runs_only_query_block_job(spark):
    """r6 verdict #3: the ANN gate queries used to run an extra
    ``max(vec_id)`` scalar-aggregate job at plan-BUILD time to size the
    query-id list.  The query block is now selected by the same modulus
    predicate the oracle uses, so building the plan runs at most ONE job
    — materializing the broadcast query block itself (the documented
    filtered-collect pattern), never a second full-column aggregate."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_topk,
        ann_topk_cosine_arrow,
    )
    from external_merge_sort_loser_tree_ovc_spark.queries import ANN_QUERY_MOD

    # read OUTSIDE the probe group: parquet footer schema inference is a
    # per-read artifact, not part of the ANN plan build under test
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pred = f"vec_id % {ANN_QUERY_MOD} = 0"
    sc = spark.sparkContext
    for fn in (ann_topk, ann_topk_cosine_arrow):
        group = f"ann_plan_probe_{fn.__name__}"
        sc.setJobGroup(group, "plan-build job probe")
        try:
            df = fn(emb, None, 5, query_pred=pred)
            built_jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert len(built_jobs) <= 1, (
            f"{fn.__name__} plan build launched jobs {built_jobs} — "
            "max(vec_id) sizing job not folded into the plan"
        )
        assert df.count() > 0


def test_cogroup_apply_rejects_key_type_mismatch(spark):
    """The plan-build contract guarding the whole cogroup pattern:
    mismatched grouping-key dataTypes are silent group mis-alignment in
    Spark (each key delivered once per side), so the helper must refuse
    them loudly instead."""
    from pyspark.sql import functions as F

    from external_merge_sort_loser_tree_ovc_spark.functions.grouped import (
        cogroup_apply,
    )

    left = spark.range(4).select(F.col("id").cast("int").alias("k"), "id")
    right = spark.range(4).select(F.col("id").alias("k"), "id")
    with pytest.raises(TypeError, match="dataTypes differ"):
        cogroup_apply(left, ["k"], right, ["k"], lambda a, b: a, left.schema)
    with pytest.raises(TypeError, match="arity"):
        cogroup_apply(left, ["k", "id"], right, ["k"], lambda a, b: a, left.schema)
    # matching types build fine (no action run — plan construction only)
    cogroup_apply(right, ["k"], right, ["k"], lambda a, b: a, right.schema)


def test_ann_lsh_recall(spark, emb):
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_lsh_bucketed,
        ann_topk,
    )

    qids = [0, 7, 21, 42, 63]
    exact = ann_topk(emb, qids, k=5).toPandas()
    approx = ann_lsh_bucketed(
        emb, qids, k=5, n_planes=4, n_probe_planes=3
    ).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    # the gate embeddings are ISOTROPIC RANDOM unit vectors — the
    # provable worst case for any LSH family: a near-orthogonal
    # "neighbour"'s sign bits are independent coin flips, so expected
    # recall cannot exceed the scanned bucket fraction.  P=4/m=3 scans
    # ~50% and measures 0.60 here (deterministic planes -> stable).
    # The >=0.8-at-low-scan bar is asserted on the clustered fixture
    # below, the regime LSH is actually FOR.
    assert recall >= 0.55, f"LSH recall too low: {recall}"


def test_ann_lsh_recall_clustered(spark):
    """LSH's real workload: clustered data where true neighbours are
    genuinely close.  50 clusters x 10 points, tight in-cluster noise:
    recall must be >= 0.9 with single-digit probe counts (and the scan
    fraction stays far below brute force, unlike the random-vector
    worst case above)."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_lsh_bucketed,
        ann_topk,
    )

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 32, 50, 10
    centers = rng.normal(0, 1, (n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            v = c + rng.normal(0, 0.02, dim)
            rows.append((vid, (v / np.linalg.norm(v)).astype("float32")))
            vid += 1
    pdf = pd.DataFrame(
        {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    qids = [0, 55, 123, 250, 499]
    exact = ann_topk(df, qids, k=5).toPandas()
    approx = ann_lsh_bucketed(
        df, qids, k=5, n_planes=8, n_probe_planes=3
    ).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"clustered LSH recall too low: {recall}"


def test_media_metadata_vs_oracle(spark, docs):
    from external_merge_sort_loser_tree_ovc_spark.functions.multimodal import (
        media_metadata,
        media_metadata_oracle_sql,
    )
    from pyspark.sql import functions as F

    media = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    got = media_metadata(media, "payload", "doc_id")
    exp = _duck(
        media_metadata_oracle_sql("documents", "encode(text)", "doc_id")
    )
    _check_oracle(got, exp, ["doc_id"])


def test_chunk_documents_rejects_overlap_at_chunk_size(spark, docs):
    """An overlap of a whole chunk would never advance: a ValueError at
    plan build, which survives ``python -O``."""
    from external_merge_sort_loser_tree_ovc_spark.functions.textops import (
        chunk_documents,
    )

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "doc_id", chunk_tokens=8, overlap=8)


def test_neardup_lsh_equals_exact_on_adversarial_pairs(spark):
    """Planted near-dup pairs that straddle LSH hyperplanes: the
    multi-probe coverage argument (probe every plane with
    proj^2 <= dim*thr) must make the LSH path return EXACTLY the
    all-pairs result, including pairs whose home buckets differ."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        neardup_pairs,
    )

    rng = np.random.default_rng(11)
    dim = 16
    base = rng.normal(0, 1, (40, dim)).astype("float32")
    rows = []
    vid = 0
    for v in base:
        rows.append((vid, v)); vid += 1
        # partner at a tiny offset -> near-dup pair, random direction so
        # some pairs cross hyperplanes
        rows.append((vid, v + rng.normal(0, 0.002, dim).astype("float32"))); vid += 1
    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows],
                        "embedding": [r[1] for r in rows]})
    df = spark.createDataFrame(pdf).repartition(8)
    thr = 2000  # quantized units^2: catches the planted offsets
    lsh = neardup_pairs(df, thr, method="lsh").toPandas()
    exact = neardup_pairs(df, thr, method="exact").toPandas()
    key = lambda d: set(zip(d.id_a, d.id_b, d.dist2))  # noqa: E731
    assert key(lsh) == key(exact)
    assert len(exact) >= 40  # every planted pair found


def test_neardup_lsh_runs_no_job_at_construction(spark, emb):
    """Regression: the old path did a full-table toPandas() at plan-
    construction time (driver collect).  Building the LSH plan must not
    launch any Spark job."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        neardup_pairs,
    )

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _plan = neardup_pairs(emb, 10**6)  # build only, no action
    after = set(tracker.getJobIdsForGroup(None))
    assert before == after, "plan construction launched Spark jobs"


def test_neardup_probe_amplification_bounded():
    """r3: multi-probe fan-out is hard-capped at 2^max_probe_planes
    copies per row; rows with more uncertain planes emit ONE bucket=-1
    marker (brute-force fallback band) instead of exploding."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        _bucketize_frame,
    )

    rng = np.random.default_rng(5)
    # adversarial near-plane data: unit vectors + a threshold where
    # sqrt(dim*thr) exceeds any possible projection -> every plane
    # uncertain for every row (the r2 unbounded path emitted 2^8 = 256
    # copies/row here)
    dim, n = 64, 200
    v = rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [r.astype("float32") for r in v]}
    )
    cap = 4
    probe = _bucketize_frame(
        pdf, id_col="vec_id", vec_col="embedding", n_planes=8,
        thr=1_100_000, probe=True, max_probe_planes=cap,
    )
    assert len(probe) <= n * (1 << cap)
    # on THIS data every row is over-cap: all go to the fallback band
    assert (probe.bucket == -1).all() and len(probe) == n
    # moderate data (tight threshold): fan-out bounded, no fallback
    probe2 = _bucketize_frame(
        pdf, id_col="vec_id", vec_col="embedding", n_planes=8,
        thr=50, probe=True, max_probe_planes=cap,
    )
    assert len(probe2) <= n * (1 << cap)
    per_row = probe2.groupby("vid").size()
    assert (per_row <= (1 << cap)).all()


def _mkdocs(spark, texts):
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    return spark.createDataFrame(pdf).repartition(4)


def test_simhash_banded_equals_bruteforce(spark):
    """Pigeonhole coverage: the banded candidate join must find EVERY
    pair within hamming<=3 of the 60-bit simhash — including planted
    near-dups whose hashes differ in 1-3 bits spread across bands."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        simhash_band_table,
        simhash_hamming_pairs,
    )

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(300)]
    texts = []
    for _ in range(60):
        base = list(rng.choice(vocab, 30))
        texts.append(" ".join(base))
        mut = base.copy()
        for j in rng.choice(len(mut), 2, replace=False):  # small edit
            mut[j] = str(rng.choice(vocab))
        texts.append(" ".join(mut))
    df = _mkdocs(spark, texts)
    got = simhash_hamming_pairs(df, "doc_id").toPandas()
    # brute force over the band table
    sh = simhash_band_table(df, "doc_id").toPandas().sort_values("doc_id")
    bits = sh[[f"b{i}" for i in range(4)]].to_numpy(np.int64)
    ids = sh["doc_id"].to_numpy()
    exp = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = sum(bin(int(bits[i, c]) ^ int(bits[j, c])).count("1") for c in range(4))
            if h <= 3:
                exp.add((ids[i], ids[j], h))
    assert set(zip(got.id_a, got.id_b, got.hamming)) == exp
    assert len(exp) > 0  # planted near-dups actually landed within 3 bits


def test_simhash_band_df_cap_bounds_hot_buckets(spark):
    """A boilerplate-heavy corpus (many identical short docs) creates
    one hot band value; band_df_cap drops it so candidate counts stay
    bounded, while distinct near-dup pairs outside the hot set remain."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        simhash_hamming_pairs,
    )

    boiler = ["copyright terms of service all rights reserved"] * 50
    uniq = [f"unique document number {i} with distinct words {i*7} {i*13}"
            for i in range(20)]
    df = _mkdocs(spark, boiler + uniq)
    uncapped = simhash_hamming_pairs(df, "doc_id").toPandas()
    capped = simhash_hamming_pairs(df, "doc_id", band_df_cap=10).toPandas()
    # hot bucket contributes 50*49/2 pairs uncapped; cap removes them
    assert len(uncapped) >= 50 * 49 // 2
    assert len(capped) < len(uncapped)
    # capped output is a subset (never invents pairs)
    k = lambda d: set(zip(d.id_a, d.id_b))  # noqa: E731
    assert k(capped) <= k(uncapped)


def test_simhash_capped_oracle_matches(spark):
    """The band_df_cap definition is mirrored by the oracle generator."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        simhash_hamming_oracle_sql,
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(DOCS)
    got = simhash_hamming_pairs(docs, "doc_id", band_df_cap=5)
    exp = _duck(simhash_hamming_oracle_sql("documents", "doc_id", band_df_cap=5))
    _check_oracle(got, exp, ["id_a", "id_b"])


def test_ngram_df_cap_bounds_and_oracle_matches(spark):
    """Boilerplate bigram creates a quadratic bucket; df_cap removes it,
    and the capped oracle stays bit-exact with the capped engine."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        ngram_jaccard_oracle_sql,
        ngram_jaccard_pairs,
    )

    boiler = [f"unique{i} stuff{i*3} of the essence here" for i in range(40)]
    df = _mkdocs(spark, boiler)
    # every doc shares "of the" etc -> uncapped index has a 40-doc bucket
    uncapped_cand = ngram_jaccard_pairs(df, "doc_id", tau_num=1, tau_den=10)
    capped = ngram_jaccard_pairs(df, "doc_id", tau_num=1, tau_den=10, df_cap=10)
    assert capped.count() < uncapped_cand.count()
    # oracle parity on real gate data with the cap engaged
    docs = spark.read.parquet(DOCS)
    got = ngram_jaccard_pairs(docs, "doc_id", df_cap=50)
    exp = _duck(ngram_jaccard_oracle_sql("documents", "doc_id", df_cap=50))
    _check_oracle(got, exp, ["id_a", "id_b"])


def test_extract_text_northstar_invariant(spark):
    """input_hint per-row invariant: byte-identical extracted text per
    url over the synthesized Common-Crawl-style page table."""
    from pyspark.sql import functions as F

    from external_merge_sort_loser_tree_ovc_spark.functions.textops import (
        _SPARK,
        extract_text_sql,
    )
    from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 5000)
    bad = pages.filter(F.expr(extract_text_sql(_SPARK, "html")) != F.col("text")).count()
    assert bad == 0


def test_extract_text_strips_script_style_entities(spark):
    from pyspark.sql import functions as F

    from external_merge_sort_loser_tree_ovc_spark.functions.textops import (
        _SPARK,
        extract_text_sql,
    )

    cases = [
        (b"<html><body><p>Hello &amp; welcome</p>"
         b"<script>var x=1;\nalert('x')</script><div>to the  site</div></body></html>",
         "Hello & welcome to the site"),
        (b"<style>p {color: red}</style>a &lt;b&gt; c &quot;d&quot; &#39;e&#39;",
         "a <b> c \"d\" 'e'"),
        (b"plain no tags", "plain no tags"),
    ]
    pdf = pd.DataFrame({"i": range(len(cases)), "html": [c[0] for c in cases]})
    got = (
        spark.createDataFrame(pdf)
        .withColumn("text_extracted", F.expr(extract_text_sql(_SPARK, "html")))
        .toPandas()
        .sort_values("i")["text_extracted"]
        .tolist()
    )
    assert got == [c[1] for c in cases]


def test_minhash_band_df_cap_bounds_hot_buckets(spark):
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        minhash_lsh_pairs,
    )

    boiler = ["terms of service apply to all pages on this site"] * 40
    uniq = [f"doc {i} body words alpha{i} beta{i*3} gamma{i*7} delta{i*11}"
            for i in range(10)]
    df = _mkdocs(spark, boiler + uniq)
    uncapped = minhash_lsh_pairs(df, "doc_id").count()
    capped = minhash_lsh_pairs(df, "doc_id", band_df_cap=8).count()
    assert uncapped >= 40 * 39 // 2
    assert capped < uncapped


def test_minhash_finds_planted_near_dups(spark):
    """r=4 bands are selective, but high-Jaccard near-dups (one word
    changed in a long doc) must still pair with overwhelming odds."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        minhash_lsh_pairs,
    )

    rng = np.random.default_rng(17)
    vocab = [f"tok{i}" for i in range(500)]
    texts, planted = [], []
    for i in range(25):
        base = list(rng.choice(vocab, 60))
        a = len(texts); texts.append(" ".join(base))
        mut = base.copy(); mut[30] = "CHANGED"
        b = len(texts); texts.append(" ".join(mut))
        planted.append((a, b))
    got = minhash_lsh_pairs(_mkdocs(spark, texts), "doc_id").toPandas()
    pairs = set(zip(got.id_a, got.id_b))
    hit = sum(1 for p in planted if p in pairs)
    assert hit >= 22, f"only {hit}/25 planted near-dups found"


def test_ppm_decode_roundtrip_and_errors(spark):
    from external_merge_sort_loser_tree_ovc_spark.functions.multimodal import (
        decode_ppm,
        synth_ppm,
    )

    ids = np.array([0, 1, 12, 99, 1234])
    for i, payload in zip(ids, synth_ppm(ids)):
        w, h, px = decode_ppm(payload)
        assert (w, h) == (4 + i % 13, 3 + i % 7)
        assert px.shape == (h, w, 3)
        # gradient law: pixel(x,y,c) == base_c + x
        for c in range(3):
            base = (int(i) * 3 + c * 7) % 200
            assert (px[:, :, c] == base + np.arange(w)[None, :]).all()
    import pytest as _pt

    with _pt.raises(ValueError):
        decode_ppm(b"JFIF not a ppm")


def test_ann_lsh_gate_config_recall_clustered(spark, emb):
    """The DRIVER-VISIBLE q_ann_lsh configuration: clustered_embeddings
    over the gate ids, n_planes=8, n_probe_planes=4.  Recall vs exact
    top-k on the same clustered vectors must be >= 0.9 — the driver's
    rows-only check can't see recall, so this pin is the evidence that
    the gate fixture measures the operator, not the isotropic
    information-theoretic floor."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_lsh_bucketed,
        ann_topk,
        clustered_embeddings,
    )

    cl = clustered_embeddings(emb)
    qids = [0, 7, 21, 42, 63]
    exact = ann_topk(cl, qids, k=5).toPandas()
    approx = ann_lsh_bucketed(
        cl, qids, k=5, n_planes=8, n_probe_planes=4
    ).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"gate-config clustered LSH recall too low: {recall}"


def test_clustered_embeddings_deterministic(spark, emb):
    """Fixture contract: identical vectors under any repartitioning."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        clustered_embeddings,
    )

    a = clustered_embeddings(emb).toPandas().sort_values("vec_id")
    b = clustered_embeddings(emb.repartition(7)).toPandas().sort_values("vec_id")
    assert (a.vec_id.to_numpy() == b.vec_id.to_numpy()).all()
    va = np.stack(a.embedding.to_numpy())
    vb = np.stack(b.embedding.to_numpy())
    assert (va == vb).all(), "clustered fixture must not depend on partitioning"


def test_png_decode_roundtrip_filters_and_errors():
    """Real PNG: every one of the 5 scanline filter types must round-
    trip (heights up to 7 guarantee rows with filters 0..4), CRC
    corruption must be detected, and a non-PNG payload rejected."""
    import pytest as _pt

    from external_merge_sort_loser_tree_ovc_spark.functions.multimodal import (
        decode_png,
        synth_png,
    )

    ids = np.array([0, 1, 2, 3, 4, 12, 99, 1234, 7777])
    filters_seen = set()
    for i, payload in zip(ids, synth_png(ids)):
        w, h, px = decode_png(payload)
        assert (w, h) == (5 + i % 11, 3 + i % 5)
        filters_seen |= {y % 5 for y in range(h)}
        for c in range(3):
            base = (int(i) * 5 + c * 11) % 190
            assert (px[:, :, c] == base + np.arange(w)[None, :]).all()
    assert filters_seen == {0, 1, 2, 3, 4}, "all PNG filter types exercised"
    corrupted = bytearray(synth_png(np.array([5]))[0])
    corrupted[20] ^= 0xFF
    with _pt.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupted))
    with _pt.raises(ValueError):
        decode_png(b"JFIF not a png")
    # truncation mid-chunk must keep the ValueError contract, never
    # leak struct.error
    whole = synth_png(np.array([5]))[0]
    # cut IEND (12 bytes) plus one byte of IDAT's CRC: the IDAT header
    # still parses, so the chunk-walk must detect the short body
    with _pt.raises(ValueError, match="truncated"):
        decode_png(whole[: len(whole) - 13])


def test_repetition_stats_law_and_partition_independence(spark):
    """Hand-computable fixture: 'a b a b a b' has bigrams [a b, b a,
    a b, b a, a b] -> total 5, distinct 2, max 3, and (5-2)*5 > 5*1
    flags it; a all-distinct doc stays unflagged; NULL text drops."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        repetition_stats,
    )

    rows = [
        (1, "a b a b a b"),
        (2, "w x y z q r"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        r.doc_id: r.asDict()
        for r in repetition_stats(df, "doc_id").collect()
    }
    assert set(got) == {1, 2}, "NULL text must produce no row"
    assert got[1]["total_bigrams"] == 5
    assert got[1]["distinct_bigrams"] == 2
    assert got[1]["max_gram_count"] == 3
    assert got[1]["dup_flag"] == 1
    assert got[2]["total_bigrams"] == 5
    assert got[2]["distinct_bigrams"] == 5
    assert got[2]["dup_flag"] == 0
    got7 = {
        r.doc_id: r.asDict()
        for r in repetition_stats(df.repartition(7), "doc_id").collect()
    }
    assert got7 == got, "result must not depend on partitioning"


def test_incremental_dedup_survivors(spark):
    """New batch = id % 10 < 2.  A new doc whose text already exists in
    the corpus is dropped; a new doc duplicated only WITHIN the new
    batch survives (both copies — incremental dedup is vs the corpus,
    not self-dedup); NULL texts never match anything and are excluded."""
    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        incremental_dedup_survivors,
    )

    rows = [
        (0, "dup with corpus", 15),   # new, text in corpus -> dropped
        (1, "fresh", 5),              # new, unseen -> survives
        (10, "batch-local dup", 15),  # new, dup only within batch -> survives
        (11, "batch-local dup", 15),  # new, dup only within batch -> survives
        (20, None, 0),                # new, NULL -> excluded
        (5, "dup with corpus", 15),   # corpus
        (7, None, 0),                 # corpus NULL must not match new NULL
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, n_chars: long")
    got = sorted(
        (r.doc_id, r.n_chars)
        for r in incremental_dedup_survivors(df, "doc_id").collect()
    )
    assert got == [(1, 5), (10, 15), (11, 15)]


def test_jpeg_decode_roundtrip_ac_and_errors():
    """Real baseline JPEG: DC-only payloads must decode to exactly flat
    blocks per the module law; the AC entropy path (run-length, ZRL,
    negative EXTEND) must reconstruct the encoded coefficients; the
    IDCT must agree with an independently-written naive double-sum
    IDCT; progressive/multi-component/corrupt payloads rejected."""
    import pytest as _pt

    from external_merge_sort_loser_tree_ovc_spark.functions.multimodal import (
        _JPG_BASE_MOD,
        _JPG_QTAB,
        _JPG_ZZ,
        decode_jpeg,
        synth_jpeg,
    )

    ids = np.array([0, 1, 2, 3, 4, 5, 11, 99, 1234, 7777])
    for i, payload in zip(ids, synth_jpeg(ids)):
        i = int(i)
        w, h, img = decode_jpeg(payload)
        assert (w, h) == (8 * (1 + i % 3), 8 * (1 + i % 2))
        for b in range((w // 8) * (h // 8)):
            by, bx = divmod(b, w // 8)
            blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            assert (blk == (i * 7 + b * 17) % _JPG_BASE_MOD).all(), (i, b)

    # AC path: ZRL + run-length + negative EXTEND reconstruct exactly
    for i in [0, 5, 13, 29]:
        payload = synth_jpeg(np.array([i]), ac_test=True)[0]
        w, h, img, deq = decode_jpeg(payload, return_coeffs=True)
        for b in range((w // 8) * (h // 8)):
            s = (int(i) * 7 + b * 17) % _JPG_BASE_MOD - 128
            assert deq[b, 0] == 8 * s
            assert deq[b, _JPG_ZZ[1]] == _JPG_QTAB[_JPG_ZZ[1]]
            assert deq[b, _JPG_ZZ[19]] == -_JPG_QTAB[_JPG_ZZ[19]]
            assert set(np.nonzero(deq[b])[0]) <= {0, _JPG_ZZ[1], _JPG_ZZ[19]}
        # independent IDCT: naive O(64^2) double sum straight from the
        # T.81 definition (no shared code with the decoder's matrix form)
        blk = deq[0].reshape(8, 8)
        ref = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        acc += (
                            cu * cv * blk[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                ref[x, y] = acc / 4
        ref = np.clip(np.round(ref) + 128, 0, 255).astype(np.uint8)
        assert (img[:8, :8] == ref).all(), "matrix IDCT != naive IDCT"

    whole = synth_jpeg(np.array([5]))[0]
    with _pt.raises(ValueError, match="SOI"):
        decode_jpeg(b"P6 not a jpeg")
    prog = bytearray(whole)
    prog[bytes(prog).find(b"\xff\xc0") + 1] = 0xC2
    with _pt.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(prog))
    with _pt.raises(ValueError, match="truncated"):
        decode_jpeg(whole[:20])


def test_ann_ivf_recall_and_determinism(spark, emb):
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_ivf,
        ann_topk,
    )

    qids = [0, 7, 21, 42, 63]
    exact = ann_topk(emb, qids, k=5).toPandas()
    a1 = ann_ivf(emb, qids, k=5, n_clusters=8, n_probe=3).toPandas()
    a2 = ann_ivf(emb, qids, k=5, n_clusters=8, n_probe=3).toPandas()
    key = lambda d: sorted(zip(d.query_id, d.neighbor_id, d.dist2))  # noqa: E731
    assert key(a1) == key(a2), "IVF must be bit-deterministic (integer k-means)"
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(a1.query_id, a1.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # recall-vs-n_probe curve: more probed cells can only add candidates
    # (monotone coverage), and probing ALL cells is exhaustive search
    a0 = ann_ivf(emb, qids, k=5, n_clusters=8, n_probe=1).toPandas()
    r0 = len(e & set(zip(a0.query_id, a0.neighbor_id))) / len(e)
    assert recall >= r0, f"recall not monotone in n_probe: {r0} -> {recall}"
    afull = ann_ivf(emb, qids, k=5, n_clusters=8, n_probe=8).toPandas()
    rfull = len(e & set(zip(afull.query_id, afull.neighbor_id))) / len(e)
    assert rfull == 1.0, f"n_probe == n_clusters must be exhaustive: {rfull}"


def test_ann_ivf_recall_clustered(spark, emb):
    """IVF's real workload (same argument as LSH): on clustered data
    the coarse quantizer's cells align with the clusters, so probing a
    few cells must recover >= 0.8 of true neighbours.  The isotropic
    floor above stays at 0.5 — random unit vectors spread each query's
    neighbours across cells, which bounds any cell-probing scheme."""
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        ann_ivf,
        ann_topk,
        clustered_embeddings,
    )

    cl = clustered_embeddings(emb)
    qids = [0, 7, 21, 42, 63]
    exact = ann_topk(cl, qids, k=5).toPandas()
    approx = ann_ivf(cl, qids, k=5, n_clusters=8, n_probe=3).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"clustered IVF recall too low: {recall}"


def test_kmeans_quantized_deterministic(spark, emb):
    from external_merge_sort_loser_tree_ovc_spark.functions.similarity import (
        kmeans_quantized,
    )

    c1 = kmeans_quantized(emb, k=8, iters=3)
    c2 = kmeans_quantized(emb.repartition(7), k=8, iters=3)
    assert (c1 == c2).all(), "centroids must not depend on partitioning"


def test_wav_decode_roundtrip_and_errors():
    from external_merge_sort_loser_tree_ovc_spark.functions.multimodal import (
        decode_wav,
        synth_wav,
    )

    ids = np.array([0, 5, 991])
    for i, payload in zip(ids, synth_wav(ids)):
        rate, ch, s = decode_wav(payload)
        assert (rate, ch) == (8000, 1)
        n = 16 * (4 + int(i) % 12)
        base = (int(i) * 11) % 1000
        assert len(s) == n
        assert (s == base + np.arange(n) % 16).all()
    import pytest as _pt

    with _pt.raises(ValueError):
        decode_wav(b"OggS definitely not riff")


def test_null_text_parity_engine_vs_oracle(spark):
    """Nullable corpora: engine and oracle must agree on which docs
    participate (NULL text excluded on BOTH sides) for text features
    and banded simhash."""
    import duckdb as _duck_mod

    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        simhash_hamming_oracle_sql,
        simhash_hamming_pairs,
    )
    from external_merge_sort_loser_tree_ovc_spark.functions.textops import (
        text_features_oracle_sql,
        with_text_features,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["same words here", None, "same words here",
                     "other words entirely", None, "third doc words"],
        }
    )
    df = spark.createDataFrame(pdf)
    con = _duck_mod.connect()
    con.register("documents", pdf)
    feats = with_text_features(df.select("doc_id", "text")).toPandas()
    ofeats = con.sql(text_features_oracle_sql("documents", "doc_id")).df()
    assert sorted(feats.doc_id) == sorted(ofeats.doc_id) == [0, 2, 3, 5]
    got = simhash_hamming_pairs(df, "doc_id").toPandas()
    exp = con.sql(simhash_hamming_oracle_sql("documents", "doc_id")).df()
    assert sorted(zip(got.id_a, got.id_b)) == sorted(zip(exp.id_a, exp.id_b))
    assert (0, 2) in set(zip(got.id_a, got.id_b))  # identical docs pair


def test_arrow_bigrams_match_catalyst_hof(spark, docs):
    """_explode_bigrams_arrow (the ngram engine path) must produce the
    exact multiset of (id, gram) rows as the Catalyst HOF expression it
    replaced (_bigrams_spark) — the HOF stays as the executable spec of
    the gram definition, and this equivalence is what lets the oracle
    keep using the SQL form."""
    from pyspark.sql import functions as F

    from external_merge_sort_loser_tree_ovc_spark.functions.dedup import (
        _bigrams_spark,
        _explode_bigrams_arrow,
    )

    arrow = _explode_bigrams_arrow(docs, "doc_id", "text").toPandas()
    hof = (
        docs.select(
            F.col("doc_id"), F.explode(F.expr(_bigrams_spark("text"))).alias("g")
        )
        .toPandas()
    )
    a = sorted(zip(arrow.doc_id, arrow.g))
    h = sorted(zip(hof.doc_id, hof.g))
    assert a == h, f"{len(a)} vs {len(h)} gram rows"


def test_fuzzy_join_blocking_complete_vs_bruteforce(spark):
    """Independent completeness check for the deletion-neighborhood
    blocking: the oracle SQL mirrors the blocking, so only a true
    brute-force O(n^2) sweep can prove no ed<=1 pair is missed."""
    from external_merge_sort_loser_tree_ovc_spark.queries import (
        FUZZY_MOD,
        q_fuzzy_join,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r.id_a, r.id_b): r.dist
        for r in q_fuzzy_join(spark, sf_dir).collect()
    }

    import duckdb

    base = duckdb.sql(
        f"SELECT p_partkey, p_name FROM '{sf_dir}/part.parquet' "
        f"WHERE p_partkey % {FUZZY_MOD} = 0"
    ).fetchall()
    fix = [(k * 2, n) for k, n in base] + [(k * 2 + 1, n + "x") for k, n in base]

    def lev(a: str, b: str) -> int:
        if abs(len(a) - len(b)) > 1:
            return 2  # caller only needs <=1 exactness
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {}
    for x in range(len(fix)):
        for y in range(x + 1, len(fix)):
            ia, sa = fix[x]
            ib, sb = fix[y]
            d = lev(sa, sb)
            if d <= 1:
                want[(min(ia, ib), max(ia, ib))] = d
    assert got == want
    assert len(want) >= len(base), "every name must pair with its 'x' twin"
