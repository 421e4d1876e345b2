"""Driver-side index training (similarity/ivf.py `lloyd`): the numeric
contract that keeps the trained centroids bit-identical to the DuckDB
oracle CTEs, plus the training-sample count cap and the bench's
box-calibration guard."""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pytest
from conftest import TEST_SF_DIR

from data_ingestion_system_spark.similarity.ivf import (
    N_ITERS,
    _kmeans_ctes,
    adaptive_cells,
    adaptive_train_mod,
    adaptive_train_mod_case_sql,
    lloyd,
    round6,
    train_centroids,
)

# the oracle comparison runs one scale up from the unit-test corpus
ORACLE_SF_DIR = os.path.join(os.path.dirname(TEST_SF_DIR.rstrip("/")), "sf0.01")


def test_exact_cosine_tie_picks_lowest_cell_and_empty_cell_keeps_centroid():
    # x is at exactly the same cosine (1/sqrt 2) from both seeds: cell 0
    # wins the tie, so cell 1 stays empty and keeps its seed
    x = np.array([[1.0, 0.0]])
    c = np.array([[1.0, 1.0], [1.0, -1.0]])
    out = lloyd(x, c, 1, "cosine")
    assert out.tolist() == [[1.0, 0.0], [1.0, -1.0]]


def test_exact_l2_tie_picks_lowest_code():
    x = np.array([[0.0, 0.0], [4.0, 0.0]])
    c = np.array([[1.0, 0.0], [-1.0, 0.0], [9.0, 9.0]])
    out = lloyd(x, c, 1, "l2")
    # both rows go to code 0 (the first at a tie); codes 1 and 2 are empty
    assert out.tolist() == [[2.0, 0.0], [-1.0, 0.0], [9.0, 9.0]]


def test_empty_cell_keeps_centroid_over_iterations():
    x = np.array([[1.0, 0.1], [1.0, -0.1], [0.9, 0.0]])
    c = np.array([[1.0, 0.0], [-1.0, 0.5]])
    out = lloyd(x, c, 3, "cosine")
    assert out[1].tolist() == [-1.0, 0.5]
    assert out[0].tolist() == [0.966667, 0.0]


def _half_boundary_values() -> list[float]:
    """Doubles m whose m * 1e6 is exactly k + 0.5, both signs."""
    vals = []
    for k in (0, 1, 2, 3, 12, 123456, 999999, 4_000_001):
        for sign in (1.0, -1.0):
            m = sign * (k + 0.5) / 1e6
            if m * 1e6 == sign * (k + 0.5):
                vals.append(m)
    return vals


def test_round6_matches_spark_round(spark):
    halves = _half_boundary_values()
    assert len(halves) >= 8
    assert any(v < 0 for v in halves)
    # np.round rounds these half-even, so the helper must not be np.round
    assert (np.round(np.array(halves) * 1e6) / 1e6).tolist() != round6(halves).tolist()
    near = [float(np.nextafter(v, 0.0)) for v in halves] + [0.1234565, -0.0000004, 2.0]
    values = halves + near
    df = spark.createDataFrame([(v,) for v in values], "m double")
    want = [
        r[0] for r in df.selectExpr("round(m * 1000000.0) / 1000000.0").collect()
    ]
    got = round6(values).tolist()
    assert [x.hex() for x in got] == [x.hex() for x in want]


@pytest.mark.parametrize(
    "n, mod",
    [(16_384, 4), (16_385, 16), (262_144, 64), (16_777_216, 256), (16_777_217, 257)],
)
def test_train_mod_count_cap_matches_oracle_ladder(n, mod):
    assert adaptive_train_mod(n) == mod
    con = duckdb.connect()
    try:
        got = con.execute(f"SELECT {adaptive_train_mod_case_sql(str(n))}").fetchone()[0]
    finally:
        con.close()
    assert got == mod


@pytest.fixture(scope="module")
def oracle_vectors(spark):
    from data_ingestion_system_spark.similarity.ann import load_vectors

    path = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    n = con.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    yield load_vectors(spark, ORACLE_SF_DIR), con, n
    con.close()


@pytest.mark.parametrize("cells", ["fixed", "adaptive"])
def test_driver_centroids_equal_kmeans_oracle(oracle_vectors, cells):
    v, con, n = oracle_vectors
    k = 16 if cells == "fixed" else adaptive_cells(n)
    want = con.execute(
        f"""WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
{_kmeans_ctes(k)}
SELECT CAST(cell_id AS INTEGER), cv FROM c{N_ITERS} ORDER BY cell_id"""
    ).fetchall()
    got = [tuple(r) for r in train_centroids(v, n_cells=k).collect()]
    assert len(got) == k
    assert [(c, [x.hex() for x in cv]) for c, cv in got] == [
        (c, [x.hex() for x in cv]) for c, cv in want
    ]


def test_box_factor_refuses_another_core_count(tmp_path, monkeypatch):
    import bench

    times = {f"q{i}": 1.0 + i / 10 for i in range(6)}
    prev = {"sf": 0.1, "cpus": 32, "parsed": {"queries": {q: t / 2 for q, t in times.items()}}}
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(prev))
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))

    def query_fn(spark, sf_dir):
        return None

    registry = {q: type("Entry", (), {"spark": staticmethod(query_fn)}) for q in times}
    same = bench._box_factor(times, registry, 0.1, 32)
    assert same is not None and same["factor"] == 2.0
    assert bench._box_factor(times, registry, 0.1, 4) is None

    del prev["cpus"]  # a record that does not say where it ran
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(prev))
    assert bench._box_factor(times, registry, 0.1, 32) is None


def test_spark_argmax_ties_pick_the_lower_id(spark, tmp_path, monkeypatch):
    """The Spark side of the tie rule: every nearest-centroid caller sends
    an exact cosine tie to the lower id. Cells 3 and 1 (and fine cells 1
    and 0 of cell 1, and labels 5 and 2) are identical centroids, listed
    higher id first, so vectors along x tie exactly between them."""
    from data_ingestion_system_spark.dedup.semdedup import _normed, assign_cells
    from data_ingestion_system_spark.similarity import ivf
    from data_ingestion_system_spark.similarity.ann import DIM, _with_norm
    from data_ingestion_system_spark.similarity.classify import predict_labels

    def pad(x):
        return x + [0.0] * (DIM - len(x))

    vecs = [(0, 1, [1.0, 0.1]), (1, 1, [0.9, -0.2]), (2, 0, [0.0, 1.0])]
    path = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(i, lab, pad(x)) for i, lab, x in vecs], "vec_id long, label int, ev array<double>"
    ).write.parquet(path)
    v = spark.read.parquet(path).select("vec_id", "ev")  # file-backed: both arms open
    cents = spark.createDataFrame(
        [(3, pad([1.0, 0.0])), (1, pad([1.0, 0.0])), (2, pad([0.0, 1.0]))],
        "cell_id int, cv array<double>",
    )
    want = {0: 1, 1: 1, 2: 2}

    def cells(df, col="cell_id"):
        return {r.vec_id: r[col] for r in df.select("vec_id", col).collect()}

    shared = ivf.nearest_centroid(ivf.centroid_cosines(_with_norm(v, "ev", "nrm"), cents))
    assert cells(shared) == want

    for floor in (10**12, 0):  # fat arm, then skinny arm
        monkeypatch.setattr(ivf, "ASSIGN_SKINNY_MIN_BYTES", floor)
        assigned, probes = ivf.assign_and_probes(v, cents, nprobe=1, n_queries=2)
        assert cells(assigned) == want
        assert sorted(map(tuple, probes.collect())) == [(0, 1), (1, 1)]

    coarse = assign_cells(_normed(v), cents)
    assert cells(coarse) == want
    fcents = spark.createDataFrame(
        [(1, 1, pad([1.0, 0.0])), (1, 0, pad([1.0, 0.0])), (2, 0, pad([0.0, 1.0]))],
        "cell_id int, fine_id int, cv array<double>",
    )
    fine = assign_cells(coarse.drop("ccos"), fcents, "fine_id", ("cell_id",), "fcos")
    assert cells(fine, "fine_id") == {0: 0, 1: 0, 2: 0}

    labeled = spark.read.parquet(path)
    label_cents = spark.createDataFrame(
        [(5, pad([1.0, 0.0])), (2, pad([1.0, 0.0])), (0, pad([0.0, 1.0]))],
        "label int, cv array<double>",
    )
    assert cells(predict_labels(labeled, label_cents), "predicted") == {0: 2, 1: 2, 2: 0}
