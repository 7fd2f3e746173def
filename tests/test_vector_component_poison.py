"""Vector-COMPONENT poison gate (r13 — the r11 non-finite class's
missing arm): the scalar arms planted NaN/Inf in events.value and
orders.o_totalprice, but never INSIDE embedding vectors. First run
found the engines splitting exactly as the scalar class predicted:

- embedding-centroid hit the silent-vs-loud decimal split (DuckDB's
  CAST(NaN AS DECIMAL) raises; Spark's silently NULLs the component
  out of the class mean — a silent wrong answer);
- every similarity surface MISMATCHed: NaN cosine scores rank
  differently under the two engines' NaN orderings, and poisoned
  vectors polluted LSH buckets/candidates asymmetrically;
- array-ops diverged on the NULL-component lane (Spark array_min/max
  skip NULLs; the oracle's list_sort kept them).

Policy (the NULL-vector degrade contract extended): a vector with a
NULL or non-finite COMPONENT carries no usable geometry and is
excluded from the vector universe at every operator boundary —
``functions/vectors.finite_vector`` engine-side, ``FINITE_VEC_SQL``
oracle-side, two-sided like every poison class. The Arrow kernels
keep a LOUD backstop (SchemaContractError) for direct API use that
bypasses operator boundaries. Pure array SURFACES (array-ops,
explode) are not geometry — they pass the poison through, with
oracle expressions chosen to match Spark's array semantics exactly.

Three poison lanes planted per run: a NaN component (vec_id % 37),
an Infinity component (% 41), a NULL component (% 43).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import duckdb
import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import queries as Q
from reverse_etl_homebrew_spark.functions import vectors as VEC

from test_oracle_parity import _duck, _rowset

SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# every registered key that reads the embeddings table
KEYS = [
    # geometry tier — excluded-vector semantics
    "topk-similarity", "topk-similarity-pandas", "topk-similarity-lsh",
    "topk-similarity-ivf", "knn-join", "knn-join-tables", "knn-join-lsh",
    "similarity-join", "embedding-near-dup", "embedding-centroid",
    "kmeans-assign", "kmeans-iterate", "incremental-knn", "hybrid-rrf",
    "corpus-refresh-pipeline",
    # array surfaces — poison passes through, engines must agree on it
    "array-ops", "explode-posexplode", "multimodal-cols",
]


@pytest.fixture(scope="module")
def poisoned_dir():
    out = tempfile.mkdtemp(prefix="sg-veccomp-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "embeddings":
            con.execute(
                f"""
                COPY (
                  SELECT vec_id,
                         CASE
                           WHEN vec_id % 37 = 0 THEN list_transform(
                             embedding, (x, i) ->
                             CASE WHEN i = 1 THEN 'NaN'::FLOAT ELSE x END)
                           WHEN vec_id % 41 = 0 THEN list_transform(
                             embedding, (x, i) ->
                             CASE WHEN i = 2 THEN 'Infinity'::FLOAT ELSE x END)
                           WHEN vec_id % 43 = 0 THEN list_transform(
                             embedding, (x, i) ->
                             CASE WHEN i = 3 THEN NULL ELSE x END)
                           ELSE embedding
                         END AS embedding,
                         label
                  FROM read_parquet('{src}')
                ) TO '{dst}' (FORMAT PARQUET)
                """
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    return out


@pytest.fixture(scope="module")
def duck(poisoned_dir):
    return _duck(poisoned_dir)


@pytest.mark.parametrize("name", KEYS)
def test_component_poison_parity(spark, name, duck, poisoned_dir):
    sdf = Q.QUERIES[name](spark, poisoned_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(Q.ORACLE[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


def test_poison_is_nonvacuous(spark, poisoned_dir):
    """The poisoned universe must actually shrink: excluded vectors
    exist, and the geometry keys run on strictly fewer vectors."""
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    e = load_table(spark, poisoned_dir, "embeddings")
    n_total = e.count()
    n_finite = e.where(VEC.finite_vector(F.col("embedding"))).count()
    assert 0 < n_finite < n_total


def test_finite_vector_truth_table(spark):
    rows = [
        (1, [1.0, 2.0]),
        (2, [float("nan"), 1.0]),
        (3, [float("inf"), 1.0]),
        (4, [float("-inf"), 1.0]),
        (5, [None, 1.0]),
        (6, None),
        (7, []),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {
        r["id"]: r["ok"]
        for r in df.select(
            "id", VEC.finite_vector(F.col("v")).alias("ok")
        ).collect()
    }
    # r14 (advisor): the empty array is OUT — forall alone was
    # vacuously true on it, but it carries no geometry and the
    # declared SQL twin FINITE_VEC_SQL requires len(c) > 0
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False,
                   6: False, 7: False}
    # the hot-path geometry form agrees on every poison lane; a
    # RAGGED vector (shorter than the table dim, incl. empty) stays
    # LOUD — ANSI element_at raises out-of-range, exactly as every
    # pre-existing norm/dot call site already did (the per-row dim
    # contract; table-level dim drift is refused at index boundaries)
    uniform = df.where(F.col("id") != 7)
    geo = {
        r["id"]: bool(r["ok"])
        for r in uniform.select(
            "id",
            F.coalesce(
                VEC.finite_geometry(F.col("v"), 2), F.lit(False)
            ).alias("ok"),
        ).collect()
    }
    assert geo == {1: True, 2: False, 3: False, 4: False, 5: False,
                   6: False}
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX|out of bounds"):
        df.select(VEC.finite_geometry(F.col("v"), 2).alias("ok")).collect()


def test_finite_geometry_matches_sql_twin_on_poison(spark):
    """The engine predicate and FINITE_VEC_SQL must agree row-for-row
    on the poisoned table — the two-sidedness that makes every
    geometry oracle's scope exact."""
    import duckdb

    from reverse_etl_homebrew_spark.sqlfrags import FINITE_VEC_SQL

    rows = [
        (1, [1.0, 2.0]), (2, [float("nan"), 1.0]),
        (3, [float("inf"), 1.0]), (4, [None, 1.0]), (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    eng = {
        r["id"]: bool(r["ok"])
        for r in df.select(
            "id",
            F.coalesce(
                VEC.finite_geometry(F.col("v"), 2), F.lit(False)
            ).alias("ok"),
        ).collect()
    }
    con = duckdb.connect()
    lit = {
        1: "[1.0::DOUBLE, 2.0]", 2: "['NaN'::DOUBLE, 1.0]",
        3: "['Infinity'::DOUBLE, 1.0]", 4: "[NULL::DOUBLE, 1.0]",
        5: "NULL::DOUBLE[]",
    }
    for i, arr in lit.items():
        (ok,) = con.execute(
            f"SELECT coalesce({FINITE_VEC_SQL.format(c=arr)}, FALSE)"
        ).fetchone()
        assert bool(ok) == eng[i], i
    con.close()


def test_bucketer_masks_poison_to_null_bucket(spark):
    """The masking bucketer IS the finite-geometry scope for every
    bucketed operator: corrupt vectors (NaN/Inf/NULL component, whole
    NULL) get a NULL bucket list AND a NULL norm — which no equi-join
    or isin() can match — while clean rows bucket normally. (A
    first-draft batch-wide loud kernel guard + input-side fold filters
    measured 1.2-2.3× on the hot similarity keys; the mask is an
    attribute barrier Catalyst cannot push back into a duplicated
    fold.)"""
    from reverse_etl_homebrew_spark.operators.dedup import (
        _deterministic_planes,
    )
    from reverse_etl_homebrew_spark.operators.vectorized import (
        bucket_norm_pandas,
    )

    hp = _deterministic_planes(4, 3)
    bn = bucket_norm_pandas(hp, 4, tables=1)
    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [float("nan"), 1.0, 1.0]),
        (3, [float("inf"), 1.0, 1.0]),
        (4, [None, 1.0, 1.0]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {
        r["id"]: (r["bk"], r["nrm"])
        for r in df.select("id", bn(F.col("v")).alias("bn"))
        .select(
            "id",
            F.element_at(F.col("bn").getField("bs"), 1).alias("bk"),
            F.col("bn").getField("nrm").alias("nrm"),
        )
        .collect()
    }
    assert got[1][0] is not None and got[1][1] == math.sqrt(14.0)
    for i in (2, 3, 4, 5):
        assert got[i] == (None, None), i


def test_exact_branch_norm_kernel_distinguishes_poison_from_zero(spark):
    """The norm folds inside the kernels: poisoned vectors are
    excluded, zero vectors are kept (their pairs legitimately score
    NULL like the oracle's CASE). The exact knn branch's fused pair
    kernel flags poison with ok=false and keeps a zero vector (ok=true,
    score NULL); the bucketed branches' bucket+norm kernel gives poison
    a NULL norm and a zero vector the norm 0.0."""
    from reverse_etl_homebrew_spark.operators.dedup import (
        _deterministic_planes,
    )
    from reverse_etl_homebrew_spark.operators.vectorized import (
        bucket_norm_pandas,
        pair_cosine_flags_pandas,
    )

    cosf = pair_cosine_flags_pandas()
    bn = bucket_norm_pandas(_deterministic_planes(4, 2), 4, tables=1)
    rows = [
        (1, [3.0, 4.0]),
        (2, [0.0, 0.0]),
        (3, [float("nan"), 1.0]),
        (4, [None, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {
        r["id"]: (r["cf"]["ok"], r["cf"]["score"], r["bn"]["nrm"])
        for r in df.select(
            "id", cosf("v", "v").alias("cf"), bn("v").alias("bn")
        ).collect()
    }
    assert got[1] == (True, 1.0, 5.0)
    assert got[2] == (True, None, 0.0)
    assert got[3] == (False, None, None)
    assert got[4] == (False, None, None)


def test_query_vector_degrades_on_nonfinite_seed(spark):
    df = spark.createDataFrame(
        [(0, [float("nan"), 1.0]), (1, [1.0, 2.0])],
        "vec_id int, embedding array<double>",
    )
    vec, found = VEC.query_vector(df, vec_id=0)
    assert not found
    assert all(x == 0.0 for x in vec)
    vec1, found1 = VEC.query_vector(df, vec_id=1)
    assert found1 and math.isfinite(sum(vec1))


# ---------------------------------------------------------------------------
# Every Arrow vector kernel on an empty batch and on a masked-row batch,
# called directly (no Spark job): the batch shapes an operator boundary
# cannot rule out.
# ---------------------------------------------------------------------------

_DIM = 3


def _kernel_fn(monkeypatch, build):
    """The pandas function of the one pandas_udf that ``build()``
    creates. Capturing at creation reaches the kernels that operators
    build inline (cosine_scores_pandas, ivf_assign_pandas) the same way
    as the kernel factories."""
    made = []
    real = F.pandas_udf

    def spy(*args, **kwargs):
        decorate = real(*args, **kwargs)

        def wrap(fn):
            made.append(fn)
            return decorate(fn)

        return wrap

    monkeypatch.setattr(F, "pandas_udf", spy)
    build()
    monkeypatch.undo()
    assert len(made) == 1
    return made[0]


def _kernels():
    from reverse_etl_homebrew_spark.operators import vectorized as VZ
    from reverse_etl_homebrew_spark.operators.dedup import _deterministic_planes

    q = [1.0, 0.5, -2.0]
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    return {
        # name: (build(df), vector args, extra norm args, masking?, empty dtypes)
        "cosine_scores": (
            lambda df: VZ.cosine_scores_pandas(df, q), 1, 0, False, "float64"
        ),
        "pair_cosine": (lambda df: VZ.pair_cosine_pandas(), 2, 2, False, "float64"),
        "pair_cosine_flags": (
            lambda df: VZ.pair_cosine_flags_pandas(), 2, 0, False,
            {"score": "float64", "ok": "bool"},
        ),
        "query_cosine_flags": (
            lambda df: VZ.query_cosine_flags_pandas(q), 1, 0, False,
            {"score": "float64", "ok": "bool"},
        ),
        "centroid_dists": (
            lambda df: VZ.centroid_dists_pandas(cents), 1, 0, True, "object"
        ),
        "bucket_norm": (
            lambda df: VZ.bucket_norm_pandas(_deterministic_planes(6, _DIM), 3, 2),
            1, 0, True, {"bs": "object", "nrm": "float64"},
        ),
        "ivf_assign": (
            lambda df: VZ.ivf_assign_pandas(df, cents), 1, 0, True, "int32"
        ),
    }


def _null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


@pytest.mark.parametrize(
    "name",
    [
        "cosine_scores", "pair_cosine", "pair_cosine_flags",
        "query_cosine_flags", "centroid_dists", "bucket_norm", "ivf_assign",
    ],
)
def test_kernel_empty_and_masked_batches(spark, monkeypatch, name):
    """Empty batch → a typed empty result (never a numpy shape error).
    A 3-row batch holding one NULL vector and one NaN-component vector
    → masking kernels NULL every output field on exactly those two
    rows; loud kernels raise the documented SchemaContractError on the
    NULL row."""
    import numpy as np
    import pandas as pd

    from reverse_etl_homebrew_spark.sources.catalog import SchemaContractError

    build, n_vec, n_norm, masking, dtypes = _kernels()[name]
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 2.0])], "vec_id int, embedding array<double>"
    )
    fn = _kernel_fn(monkeypatch, lambda: build(df))

    def call(vecs, norms):
        return fn(*([vecs] * n_vec + [norms] * n_norm))

    out = call(pd.Series([], dtype="object"), pd.Series([], dtype="float64"))
    assert len(out) == 0
    if isinstance(dtypes, dict):
        assert {c: str(out[c].dtype) for c in out.columns} == dtypes
    else:
        assert str(out.dtype) == dtypes

    mixed = pd.Series(
        [np.array([1.0, 2.0, 2.0]), None, np.array([float("nan"), 1.0, 1.0])],
        dtype="object",
    )
    norms = pd.Series([3.0, float("nan"), float("nan")])
    if not masking:
        with pytest.raises(SchemaContractError, match="NULL embedding"):
            call(mixed, norms)
        return
    out = call(mixed, norms)
    cols = [out[c] for c in out.columns] if isinstance(out, pd.DataFrame) else [out]
    rows = list(zip(*cols))
    assert len(rows) == 3
    assert not any(_null(v) for v in rows[0]), rows[0]
    assert all(_null(v) for v in rows[1] + rows[2]), rows[1:]
