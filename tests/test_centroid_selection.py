"""Degenerate vectors through the package's one centroid selection
(``similarity.nearest_centroids`` / ``assign_cells``), its one pair
score (``cosine``) and its one neighbor ranking (``top_k``).

1. a centroid with an infinite component scores NaN against every
   vector; the batch ``ivf_assign`` and the streaming monitor's probe
   (``assign_cells`` over the broadcast centroid array) must still put
   every vector in the same cell — NaN ranks first under
   ``ORDER BY score DESC``, as in the DuckDB oracles;
2. a zero-norm vector scores NULL (try_divide) and ranks last instead
   of raising DIVIDE_BY_ZERO, both when ``pq_encode_with`` encodes it
   and when a k-means assignment step meets it;
3. the same holds for every embedding search — exact, KNN, IVF and LSH
   top-k, the embedding-pair dedup, SemDeDup, the ANN monitor and the
   outlier audit — each checked against a DuckDB reference;
4. a source scan keeps hand-written cosines and score-ordered
   ``row_number`` windows out of the package and ``scripts/``.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import similarity as S


def test_nonfinite_centroid_batch_and_stream_agree(spark):
    inf = float("inf")
    df = spark.createDataFrame(
        [
            (0, [inf, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.6, 0.8, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    batch = {
        r.id: r.cell
        for r in S.ivf_assign(df, "vec_id", "embedding", n_cells=2).collect()
    }
    carr = S.centroid_array(S.seed_centroids(df, "vec_id", "embedding", 2))
    probe = {r.id: r.cell for r in S.assign_cells(S.vector_rows(df, "vec_id", "embedding"), carr).collect()}
    assert probe == batch
    # centroid 0 scores NaN for every vector, and NaN ranks first
    assert batch == {0: 0, 1: 0, 2: 0, 3: 0}


def test_knn_join_ranks_nan_first_like_cosine_topk(spark):
    """A vector with an infinite component scores NaN against every
    vector (itself too). ``knn_join`` ranks that NaN first, as
    ``cosine_topk`` and the oracles do: with its self pairs dropped,
    ``knn_join(k=3)`` is ``cosine_topk(k=2)`` (each finite query's own
    1.0 outranks every other finite neighbor here)."""
    inf = float("inf")
    df = spark.createDataFrame(
        [(0, [inf, 1.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8])],
        "id long, v array<double>",
    )

    def rows(frame):
        # NaN != NaN: compare scores by their repr
        return sorted((r[0], r[1], repr(r[2])) for r in frame.collect())

    knn = S.knn_join(df, df, "id", "v", "id", "v", k=3)
    assert rows(knn.filter("query_id != neighbor")) == rows(
        S.cosine_topk(df, "id", "v", k=2)
    )
    got = rows(knn)
    # every query lists the inf vector, scored NaN
    assert {q for q, n, c in got if n == 0 and c == "nan"} == {0, 1, 2, 3}


@pytest.fixture(scope="module")
def planar(spark):
    """8 non-degenerate 4-d float vectors (two subspaces of 2)."""
    rows = [
        (i, [float((i * 3 + d * 5) % 7 - 3) + 0.5 for d in range(4)])
        for i in range(1, 9)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_with_zero_vector_ranks_null_last(spark, planar):
    cbs = S.pq_codebooks(planar, "vec_id", "embedding", 4, n_sub=2, n_cells=3)
    zero = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r.sub: (r.code, r.scos)
        for r in S.pq_encode_with(
            zero, "vec_id", "embedding", 4, cbs, n_sub=2
        ).collect()
    }
    # every score is NULL, so the tie falls to the lowest codeword id
    lowest = {
        r.sub: r.cid
        for r in cbs.groupBy("sub").agg(F.min("cid").alias("cid")).collect()
    }
    assert got == {s: (lowest[s], None) for s in (0, 1)}


def test_kmeans_step_zero_vector_ranks_null_last(spark, planar):
    zero = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with_zero = planar.unionByName(zero)
    got = {
        r.cid: r.cv
        for r in S.kmeans_centroids(
            with_zero, "vec_id", "embedding", n_cells=3, iterations=2
        ).collect()
    }
    want = {
        r.cid: r.cv
        for r in S.kmeans_centroids(
            planar, "vec_id", "embedding", n_cells=3, iterations=2
        ).collect()
    }
    # the zero vector joins the lowest cell and adds nothing to its
    # direction, so the unit-norm centroids are unchanged
    assert got.keys() == want.keys()
    for cid in want:
        assert got[cid] == pytest.approx(want[cid], abs=1e-6)


# --- zero-norm vectors through every pair score and neighbor ranking -------
#
# A zero vector scores NULL (``similarity.cosine``) and ranks last
# (``similarity.top_k``). Each result must equal an in-test DuckDB
# reference, where ``x / 0.0`` is NULL and ``ORDER BY cos DESC`` puts
# NULLs last. The zero vector (id 9) shares its IVF cell and its LSH
# bucket with other vectors, so every path really scores it.

_ROWS = [
    (1, [1.0, 0.5, 0.0, 0.0]), (2, [0.0, -1.0, 0.5, 0.0]),
    (3, [1.0, 1.0, 0.25, 0.0]), (4, [-0.5, 0.25, 1.0, 0.0]),
    (5, [1.0, 0.0, 0.5, 0.25]), (6, [-0.25, -1.0, 1.0, 0.5]),
    (7, [-1.0, 0.75, 0.5, 1.0]), (8, [0.5, 0.0, 0.25, 1.0]),
    (9, [0.0, 0.0, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def with_zero(spark):
    return spark.createDataFrame(_ROWS, "id long, v array<double>")


def _buckets(cap):
    """id -> rhp_lsh_topk's one-plane, one-table bucket key, salted
    ``cap_buckets``-style when ``cap`` is given."""
    key = {
        i: "0:" + ("1" if sum(S.rhp_coef(0, d) * x for d, x in enumerate(v)) >= 0 else "0")
        for i, v in _ROWS
    }
    if cap is None:
        return key
    size = {b: list(key.values()).count(b) for b in key.values()}
    return {i: f"{b}:{i % -(-size[b] // cap)}" for i, b in key.items()}


def _cos_sql(a: str, b: str) -> str:
    dot = "list_reduce(list_transform(generate_series(1, len(X)), i -> X[i] * Y[i]), (p, q) -> p + q)"
    d = lambda x, y: dot.replace("X", x).replace("Y", y)  # noqa: E731
    return f"round({d(a, b)} / (sqrt({d(a, a)}) * sqrt({d(b, b)})), 6)"


def _reference(on: str, k: int | None, cap=None, cells: int = 1) -> list:
    """DuckDB: pairs of e(id, v, bucket, cell) joined ``on``, scored
    like the oracles, then the top ``k`` per id (or cos >= 0.5 when
    ``k`` is None). ``cell`` is the nearest of the ``cells`` lowest-id
    vectors, ranked as the oracles rank it."""
    import duckdb

    con, bucket = duckdb.connect(), _buckets(cap)
    con.execute("CREATE TABLE e0 (id BIGINT, v DOUBLE[], bucket VARCHAR)")
    con.executemany("INSERT INTO e0 VALUES (?, ?, ?)", [(i, v, bucket[i]) for i, v in _ROWS])
    con.execute(f"""CREATE VIEW e AS SELECT * FROM (
        SELECT e0.*, c.id AS cell, row_number() OVER (PARTITION BY e0.id
            ORDER BY {_cos_sql('e0.v', 'c.v')} DESC, c.id) AS r
        FROM e0, (SELECT * FROM e0 ORDER BY id LIMIT {cells}) c) WHERE r = 1""")
    pairs = (
        f"SELECT x.id, y.id AS neighbor, {_cos_sql('x.v', 'y.v')} AS cos "
        f"FROM e x JOIN e y ON {on}"
    )
    if k is None:
        return _sorted(con.sql(f"SELECT * FROM ({pairs}) WHERE cos >= 0.5").fetchall())
    return _sorted(con.sql(f"""SELECT id, neighbor, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor) AS rn
        FROM ({pairs})) WHERE rn <= {k}""").fetchall())


def _sorted(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


_TOPK_CASES = {
    "cosine_topk": (lambda df: S.cosine_topk(df, "id", "v", k=3), "x.id <> y.id", {}),
    "knn_join": (lambda df: S.knn_join(df, df, "id", "v", "id", "v", k=3), "true", {}),
    "ivf_topk": (
        lambda df: S.ivf_topk(df, "id", "v", k=3, n_cells=2),
        "x.id <> y.id AND x.cell = y.cell", {"cells": 2},
    ),
    "rhp_lsh_topk": (
        lambda df: S.rhp_lsh_topk(df, "id", "v", dim=4, k=3, planes=1, tables=1),
        "x.id <> y.id AND x.bucket = y.bucket", {},
    ),
    "rhp_lsh_topk_capped": (
        lambda df: S.rhp_lsh_topk(
            df, "id", "v", dim=4, k=3, planes=1, tables=1, bucket_cap=3
        ),
        "x.id <> y.id AND x.bucket = y.bucket", {"cap": 3},
    ),
}


@pytest.mark.parametrize("case", sorted(_TOPK_CASES))
def test_zero_vector_scores_null_and_ranks_last(with_zero, case):
    run, on, ref = _TOPK_CASES[case]
    got = _sorted(run(with_zero).collect())
    assert got == _reference(on, 3, **ref)
    # the zero vector's own list is all NULL; in another list it can
    # only follow every scored neighbor
    own = [r for r in got if r[0] == 9]
    assert own and {r[2] for r in own} == {None}
    for i in {r[0] for r in got if r[1] == 9}:
        assert [r[2] is None for r in got if r[0] == i].count(True) == 1


@pytest.mark.parametrize("mode", ["lsh", "brute"])
def test_embedding_pairs_zero_vector(with_zero, mode):
    from prosnet_prefect_pipelines_spark.operators.dedup import embedding_cosine_pairs

    got = _sorted(
        embedding_cosine_pairs(
            with_zero, "id", "v", dim=4, threshold=0.5, planes=1, mode=mode,
            bucket_cap=3,
        ).collect()
    )
    on = "x.id < y.id" + (" AND x.bucket = y.bucket" if mode == "lsh" else "")
    assert got and got == _reference(on, None, cap=3)


def test_semdedup_zero_vector(with_zero):
    from prosnet_prefect_pipelines_spark.operators.dedup import semdedup

    def run(df):
        out = semdedup(df, "id", "v", n_cells=2, iterations=2, threshold=0.9)
        return {r.id: (r.cell, r.kept) for r in out.collect()}

    want = run(with_zero.filter(F.col("id") != 9))
    # the zero vector joins the lowest cell, is kept (its pair scores
    # are NULL, never >= threshold) and changes no other row
    assert run(with_zero) == {**want, 9: (min(c for c, _ in want.values()), 1)}


# --- the same through two catalog queries, against their own oracles ------


@pytest.fixture(scope="module")
def zero_sf(tmp_path_factory):
    """A 24-row embeddings table (64-d) whose ids 22 (index half, label
    0) and 23 (query half, label 1) are zero vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [
        [float((i * 7 + d * 3 + i * d) % 13 - 6) / 4.0 * (i < 22) for d in range(64)]
        for i in range(24)
    ]
    d = tmp_path_factory.mktemp("zero_sf")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(24), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 2 for i in range(24)], pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def _oracle(sf, sql):
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    return _sorted(con.sql(sql).fetchall())


def test_ann_monitor_zero_vector_matches_oracle(spark, zero_sf):
    from prosnet_prefect_pipelines_spark.plans import q_pipeline115 as q

    got = _sorted(q.q_stream_ann_topk_monitor(spark, zero_sf).collect())
    assert got == _oracle(zero_sf, q.ANN_MONITOR_SQL)
    # the zero query scores NULL everywhere; the zero index vector is a
    # NULL candidate ranked after every scored one
    assert {r[2] for r in got if r[0] == 23} == {None}
    assert any(r[1] == 22 and r[2] is None for r in got if r[0] != 23)


def test_embedding_outliers_zero_vector_matches_oracle(spark, zero_sf):
    from prosnet_prefect_pipelines_spark.plans import q_pipeline7 as q

    got = _sorted(q.q_embedding_outliers(spark, zero_sf).collect())
    assert got == _oracle(zero_sf, q.EMB_OUTLIER_SQL)
    # least similar first, but a NULL score sorts last: both zero
    # vectors fall outside their label's 5 outliers
    assert len(got) == 10 and not {22, 23} & {r[0] for r in got}


# --- one score, one ranking: a source scan keeps them that way -------------

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# full rankings, not top-k cuts: every row keeps its rank as a column
_RANK_COLUMNS = {
    ("prosnet_prefect_pipelines_spark/plans/q_pipeline55.py", "q_rrf_fusion"),
    ("prosnet_prefect_pipelines_spark/plans/q_pipeline55.py", "q_ndcg_eval"),
}


def _called(node) -> str | None:
    """The name a call node calls (``f(...)`` or ``x.f(...)``)."""
    f = getattr(node, "func", None)
    return getattr(f, "attr", getattr(f, "id", None))


def _hand_written(source: str) -> list[str]:
    """Functions holding a ``dot(...) / ...`` score, or both a
    ``row_number`` and a window ordered by ``cos``/``adc_cos``."""
    found = []
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        nodes = list(ast.walk(fn))
        divides = any(
            isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div)
            and _called(n.left) in ("dot", "_dot")
            for n in nodes
        )
        by_score = any(
            isinstance(c, ast.Constant) and c.value in ("cos", "adc_cos")
            for o in nodes if _called(o) == "orderBy" for c in ast.walk(o)
        )
        if divides or (by_score and any(_called(n) == "row_number" for n in nodes)):
            found.append(fn.name)
    return found


def test_scan_sees_hand_written_scores_and_rankings():
    assert _hand_written(
        "def f(df):\n"
        "    w = Window.partitionBy('id').orderBy(F.col('cos').desc(), 'b')\n"
        "    def sink(b):\n"
        "        return b.withColumn('_rn', F.row_number().over(w))\n"
        "def g(df):\n"
        "    return [lambda x: S.dot(x, b) / n, F.try_divide(dot(a, b), n)]\n"
        "def h(df):\n"
        "    return F.row_number().over(Window.orderBy('t'))\n"
    ) == ["f", "g"]


def test_one_cosine_and_one_ranking():
    """Pair scores go through ``similarity.cosine`` and score-ordered
    neighbor lists through ``similarity.top_k``, in the package and in
    ``scripts/``."""
    found = {}
    for top in ("prosnet_prefect_pipelines_spark", "scripts"):
        for root, _, files in os.walk(os.path.join(_ROOT, top)):
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), _ROOT)
                if f.endswith(".py"):
                    with open(os.path.join(_ROOT, rel)) as fh:
                        hits = [
                            fn for fn in _hand_written(fh.read())
                            if (rel, fn) not in _RANK_COLUMNS
                        ]
                    found.update({rel: hits} if hits else {})
    assert not found, f"use similarity.cosine / similarity.top_k: {found}"
