"""The benchmark's two workloads and their correctness checks.

``warehouse``: relational analytics (``operators/``), the reference's
view surface (``views``) and the event write path
(``streaming.ingest``). ``llm_corpus``: the corpus operators
(``dedup/``, ``similarity/``, ``text/``) and the document write path
(``streaming.neardup``). Each pass runs every operation once; the first
timed pass then lands one new file and drains it through the workload's
streaming ingest, into the store the set-up drain created.

Inputs come from ``tools/gen_bench_data.py`` with the run's seed; landing
files are cut from the generated tables with planted re-deliveries and
CHECK violators, so every expected answer is known before the run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import shutil
from contextlib import redirect_stdout
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REF_CORPUS_ROWS = 87_381  # the reference's stored corpus (bench.py)
REF_LABELED_ROWS = 13_107

# events landing: fresh rows per file, re-delivered earlier keys per file,
# fresh rows per file that violate the CHECK rule below
EVENT_FRESH, EVENT_REDELIVER, EVENT_VIOLATORS = 600, 150, 18
DOCS_PER_FILE = 60
MAX_FILES = 2  # file 0 is drained in set-up, file 1 in the first timed pass
# generator scale factor: sf0.01 is 60k lineitem / 10k events; sf0.02
# has 1,000 docs
SCALE = {"warehouse": 0.01, "llm_corpus": 0.02}

WAREHOUSE_OPS = [
    ("operators", "app_stats"),
    ("operators", "join_4way"),
    ("operators", "self_join_theta"),
    ("operators", "history_lag_zscore"),
    ("operators", "stratified_split"),
    ("operators", "scd2_user_segments"),
]
VIEW_OPS = ["v_app_stats", "v_daily_stats", "v_reviews_sentiment", "v_labeled_reviews", "pairwise_kappa"]
# no operation here reads the trained ANN index (ann_ivf_topk,
# semantic_dedup): building it (similarity.ivf.warm_index_cache) costs
# 10-20 s of set-up on 4 cores, more than a run can spend
LLM_OPS = [
    ("dedup", "dedup_exact_stats"),
    ("dedup", "near_dup_minhash_lsh"),
    ("dedup", "near_dup_simhash_multiblock"),
    ("similarity", "ann_topk_bruteforce"),
    ("text", "token_counts"),
    ("text", "inverted_index_search"),
    ("text", "quality_classifier_scores"),
]


@dataclass
class Op:
    layer: str
    name: str
    build: Callable  # () -> DataFrame
    count_only: bool = False  # bench.py's OUTPUT_BOUND convention: time .count()
    oracle: str | None = None

    @property
    def label(self) -> str:
        return f"{self.layer}.{self.name}"


@dataclass
class Stream:
    """A landing directory and the drain that ingests it."""

    layer: str  # streaming.ingest | streaming.neardup
    staging: list[str]  # staged landing files, landed one per drain
    source_dir: str
    drain: Callable  # (spark) -> StreamingQuery
    landed: int = 0

    def land_next(self) -> bool:
        if self.landed >= len(self.staging):
            return False
        src = self.staging[self.landed]
        os.rename(src, os.path.join(self.source_dir, os.path.basename(src)))
        self.landed += 1
        return True


@dataclass
class Workload:
    name: str
    sf: float
    data_dir: str
    root: str
    seed: int
    ops: list[Op] = field(default_factory=list)
    stream: Stream | None = None
    meta: dict = field(default_factory=dict)

    # -- inputs (no Spark) -------------------------------------------------
    def generate(self) -> None:
        from tools import gen_bench_data

        gen_bench_data._MANIFEST.clear()
        with open(os.devnull, "w") as sink, redirect_stdout(sink):
            gen_bench_data.main(self.sf, self.data_dir, seed=self.seed)


def _wipe(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def build(name: str, root: str, seed: int) -> Workload:
    """The named workload with its inputs generated under ``root``."""
    wl = Workload(name, SCALE[name], os.path.join(root, "data"), root, seed)
    wl.generate()
    if name == "warehouse":
        materialize_views_fixture(wl)
        _stage_events(wl, np.random.default_rng(seed))
    else:
        _stage_documents(wl)
    return wl


def attach_ops(wl: Workload, spark, registry: dict) -> None:
    """Bind the workload's operations to a session (called once per
    session, after set-up)."""
    import bench

    def catalog(layer: str, qname: str) -> Op:
        spec = registry[qname]
        return Op(
            layer, qname, lambda: spec.spark(spark, wl.data_dir),
            count_only=qname in bench.OUTPUT_BOUND, oracle=spec.oracle,
        )

    if wl.name == "warehouse":
        wl.ops = [catalog(layer, q) for layer, q in WAREHOUSE_OPS] + _view_ops(wl, spark)
    else:
        wl.ops = [catalog(layer, q) for layer, q in LLM_OPS]


# ---------------------------------------------------------------------------
# warehouse: views fixture and the events landing
# ---------------------------------------------------------------------------


def materialize_views_fixture(wl: Workload) -> None:
    """The reference-sized review corpus and its labels as parquet, written
    by the DuckDB twins of fixtures.generate_reviews/generate_labels (the
    twins reproduce the Spark generators exactly and write in well under
    a second). fixtures.py is deterministic: the seed does not change it."""
    import duckdb

    from data_ingestion_system_spark.fixtures import labels_sql, reviews_sql

    vdir = _wipe(os.path.join(wl.root, "views"))
    con = duckdb.connect()
    for name, sql in (("reviews", reviews_sql(REF_CORPUS_ROWS)), ("labels", labels_sql(REF_LABELED_ROWS))):
        con.execute(f"COPY ({sql}) TO '{os.path.join(vdir, name)}.parquet' (FORMAT PARQUET)")
    con.close()


def _view_ops(wl: Workload, spark) -> list[Op]:
    from data_ingestion_system_spark import views
    from data_ingestion_system_spark.fixtures import generate_annotators, generate_apps

    vdir = os.path.join(wl.root, "views")

    def reviews():
        return spark.read.parquet(os.path.join(vdir, "reviews.parquet"))

    def labels():
        return spark.read.parquet(os.path.join(vdir, "labels.parquet"))

    builds = {
        "v_app_stats": lambda: views.v_app_stats(reviews()),
        "v_daily_stats": lambda: views.v_daily_stats(reviews()),
        "v_reviews_sentiment": lambda: views.v_reviews_sentiment(reviews()).select(
            "review_id", "sentiment_bucket", "length_bucket"
        ),
        "v_labeled_reviews": lambda: views.v_labeled_reviews(
            labels(), reviews(), generate_apps(spark), generate_annotators(spark)
        ),
        "pairwise_kappa": lambda: views.pairwise_kappa(labels()),
    }
    return [Op("views", v, builds[v], oracle=VIEW_ORACLES[v]) for v in VIEW_OPS]


def _stage_events(wl: Workload, rng: np.random.Generator) -> None:
    """Landing files cut from the generated events: each holds
    EVENT_FRESH new rows (EVENT_VIOLATORS of them with value = -1, which
    fails the range CHECK) and, from file 1 on, EVENT_REDELIVER copies of
    earlier valid rows (re-delivered keys the sink must skip)."""
    events = pq.read_table(os.path.join(wl.data_dir, "events.parquet"))
    staging = _wipe(os.path.join(wl.root, "staging_events"))
    ids = events.column("event_id").to_numpy()
    files, valid_pool = [], np.empty(0, dtype=np.int64)
    truth = {"valid_by_file": [], "violators": [], "fetched": [], "skipped": []}
    n_files = min(MAX_FILES, events.num_rows // EVENT_FRESH)
    for i in range(n_files):
        fresh = np.arange(i * EVENT_FRESH, (i + 1) * EVENT_FRESH)
        viol = rng.choice(fresh, EVENT_VIOLATORS, replace=False)
        mask = np.isin(fresh, viol)
        part = events.take(pa.array(fresh))
        value = pc.if_else(pa.array(mask), pa.scalar(-1.0), part.column("value"))
        part = part.set_column(part.schema.get_field_index("value"), "value", value)
        redeliver = (
            rng.choice(valid_pool, EVENT_REDELIVER, replace=False) if i else np.empty(0, np.int64)
        )
        table = pa.concat_tables([part, events.take(pa.array(redeliver, pa.int64()))])
        path = os.path.join(staging, f"events-{i:03d}.parquet")
        pq.write_table(table, path)
        files.append(path)
        valid_now = fresh[~mask]
        truth["valid_by_file"].append(set(ids[valid_now].tolist()))
        truth["violators"].append(int(mask.sum()))
        truth["fetched"].append(table.num_rows)
        truth["skipped"].append(len(redeliver))
        valid_pool = np.concatenate([valid_pool, valid_now])
    src = _wipe(os.path.join(wl.root, "ingest", "source"))
    wl.meta["truth"] = truth
    wl.meta["planted_dedup_rate"] = EVENT_REDELIVER / (EVENT_FRESH + EVENT_REDELIVER)

    def drain(spark):
        from data_ingestion_system_spark.operators.integrity import not_null_check, range_check
        from data_ingestion_system_spark.streaming.ingest import IngestPaths, run_file_ingestion

        base = os.path.join(wl.root, "ingest")
        paths = IngestPaths(
            source_dir=src,
            target_dir=os.path.join(base, "target"),
            audit_dir=os.path.join(base, "audit"),
            provenance_dir=os.path.join(base, "provenance"),
            checkpoint_dir=os.path.join(base, "checkpoint"),
            alerts_dir=os.path.join(base, "alerts"),
            quarantine_dir=os.path.join(base, "quarantine"),
        )
        wl.meta["ingest_paths"] = paths
        schema = spark.read.parquet(src).schema  # the landed files' own schema
        rules = [range_check("value", 0.0, 500.0), not_null_check("user_id")]
        return run_file_ingestion(spark, paths, schema, "event_id", rules=rules)

    wl.stream = Stream("streaming.ingest", files, src, drain)


def _stage_documents(wl: Workload) -> None:
    """Landing files of DOCS_PER_FILE generated documents each; the
    generator's planted exact and near duplicates are what the near-dup
    sink must reject."""
    docs = pq.read_table(os.path.join(wl.data_dir, "documents.parquet"))
    staging = _wipe(os.path.join(wl.root, "staging_docs"))
    files = []
    for i in range(min(MAX_FILES, docs.num_rows // DOCS_PER_FILE)):
        path = os.path.join(staging, f"docs-{i:03d}.parquet")
        pq.write_table(docs.slice(i * DOCS_PER_FILE, DOCS_PER_FILE), path)
        files.append(path)
    src = _wipe(os.path.join(wl.root, "neardup", "source"))

    def drain(spark):
        from data_ingestion_system_spark.streaming.neardup import NearDupPaths, run_neardup_ingestion

        base = os.path.join(wl.root, "neardup")
        paths = NearDupPaths(
            source_dir=src,
            target_dir=os.path.join(base, "target"),
            bands_dir=os.path.join(base, "bands"),
            tokens_dir=os.path.join(base, "tokens"),
            audit_dir=os.path.join(base, "audit"),
            checkpoint_dir=os.path.join(base, "checkpoint"),
        )
        wl.meta["neardup_paths"] = paths
        schema = spark.read.parquet(src).schema  # the landed files' own schema
        return run_neardup_ingestion(spark, paths, schema)

    wl.stream = Stream("streaming.neardup", files, src, drain)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def _norm(v):
    """A cell made comparable across Spark rows and DuckDB tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _key(v) -> str:
    if isinstance(v, float):
        return format(v, ".6g")
    if isinstance(v, tuple):
        return "(" + ",".join(_key(x) for x in v) + ")"
    return repr(v)


def canonical(cols: list[str], rows: list) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, so that two answers compare
    without regard to order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_key(x) for x in r))
    return [cols[i] for i in order], out


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def answers_match(got: tuple, expected: tuple) -> str | None:
    """None when two canonical answers agree, else the first difference."""
    (gc, gr), (ec, er) = got, expected
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if not _close(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None


def same_answer(run: dict, first_run: dict, first_canonical: tuple) -> bool:
    """Whether one execution's rows equal the first execution's: an exact
    multiset compare first (the common case, cheap), the tolerant
    canonical compare when that fails."""
    from collections import Counter

    if run["cols"] == first_run["cols"] and Counter(run["out"]) == Counter(first_run["out"]):
        return True
    return answers_match(canonical(run["cols"], run["out"]), first_canonical) is None


def duck_connection(wl: Workload):
    import duckdb

    from data_ingestion_system_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        p = os.path.join(wl.data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    if wl.name == "warehouse":
        from data_ingestion_system_spark.fixtures import annotators_sql, apps_sql

        vdir = os.path.join(wl.root, "views")
        for t in ("reviews", "labels"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(vdir, t)}.parquet')")
        con.execute(f"CREATE VIEW apps AS {apps_sql()}")
        con.execute(f"CREATE VIEW annotators AS {annotators_sql()}")
    return con


def oracle_answer(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canonical(cols, cur.fetchall())


def check_ingest(wl: Workload, spark) -> list[str]:
    """Store invariants of the event ingest after every drain of the run."""
    paths, truth, n = wl.meta["ingest_paths"], wl.meta["truth"], wl.stream.landed
    errors = []
    keys = [r.event_id for r in spark.read.parquet(paths.target_dir).select("event_id").collect()]
    if len(keys) != len(set(keys)):
        errors.append(f"target keys not unique: {len(keys)} rows, {len(set(keys))} keys")
    expected = set().union(*truth["valid_by_file"][:n])
    if set(keys) != expected:
        errors.append(
            f"target != distinct valid landed keys: {len(set(keys) - expected)} extra,"
            f" {len(expected - set(keys))} missing"
        )
    quarantined = spark.read.parquet(paths.quarantine_dir).count()
    if quarantined != sum(truth["violators"][:n]):
        errors.append(f"quarantine {quarantined} != planted {sum(truth['violators'][:n])}")
    audit = spark.read.parquet(paths.audit_dir).orderBy("batch_id").collect()
    if len(audit) != n:
        errors.append(f"{len(audit)} audit rows for {n} landed files")
    for a in audit:
        if a.fetched != a.inserted + a.skipped + a.quarantined:
            errors.append(f"batch {a.batch_id}: audit does not reconcile")
        b = a.batch_id
        if b < n and (a.fetched, a.skipped, a.quarantined) != (
            truth["fetched"][b], truth["skipped"][b], truth["violators"][b]
        ):
            errors.append(f"batch {b}: audit counts differ from the planted ones")
    rates = [a.dedup_rate for a in audit if a.batch_id >= 1]
    wl.meta["dedup_rate"] = sum(rates) / len(rates) if rates else 0.0
    if any(abs(r - wl.meta["planted_dedup_rate"]) > 1e-12 for r in rates):
        errors.append(f"dedup rates {rates} != planted {wl.meta['planted_dedup_rate']}")
    return errors


def check_neardup(wl: Workload, spark) -> list[str]:
    """Store invariants of the near-dup ingest after every drain."""
    from data_ingestion_system_spark.streaming.neardup import accepted_docs

    paths, n = wl.meta["neardup_paths"], wl.stream.landed
    errors = []
    audit = spark.read.parquet(paths.audit_dir).orderBy("batch_id").collect()
    if len(audit) != n:
        errors.append(f"{len(audit)} audit rows for {n} landed files")
    for a in audit:
        if a.fetched != a.dup_vs_store + a.dup_within_batch + a.inserted:
            errors.append(f"batch {a.batch_id}: audit does not reconcile")
        if a.fetched != DOCS_PER_FILE:
            errors.append(f"batch {a.batch_id}: fetched {a.fetched} != {DOCS_PER_FILE} landed")
    ids = [r.doc_id for r in accepted_docs(spark, paths).select("doc_id").collect()]
    if len(ids) != len(set(ids)):
        errors.append("accepted doc ids not unique")
    if len(ids) != sum(a.inserted for a in audit):
        errors.append(f"{len(ids)} accepted docs != {sum(a.inserted for a in audit)} inserted")
    if ids and (min(ids) < 0 or max(ids) >= n * DOCS_PER_FILE):
        errors.append("accepted a doc that was never landed")
    return errors


# The reference's literal view SQL (schema.sql:209-404), as
# tests/test_reference_views.py runs it against the same fixture rows.
VIEW_ORACLES = {
    "v_app_stats": """
SELECT app_id,
  COUNT(*) AS review_count,
  ROUND(AVG(rating) * 100.0) / 100.0 AS avg_rating,
  CAST(SUM(CASE WHEN rating >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS positive_count,
  CAST(SUM(CASE WHEN rating <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS negative_count,
  CAST(SUM(CASE WHEN reply_content IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS replied_count,
  ROUND(AVG(length(content)) * 10.0) / 10.0 AS avg_content_length,
  ROUND(AVG(thumbs_up) * 100.0) / 100.0 AS avg_thumbs_up,
  MIN(review_timestamp) AS earliest_review,
  MAX(review_timestamp) AS latest_review
FROM reviews GROUP BY app_id""",
    "v_daily_stats": """
SELECT CAST(review_timestamp AS DATE) AS review_date,
  COUNT(*) AS review_count,
  ROUND(AVG(rating) * 100.0) / 100.0 AS avg_rating,
  CAST(SUM(CASE WHEN rating = 5 THEN 1 ELSE 0 END) AS BIGINT) AS five_star,
  CAST(SUM(CASE WHEN rating = 1 THEN 1 ELSE 0 END) AS BIGINT) AS one_star
FROM reviews GROUP BY 1""",
    "v_reviews_sentiment": """
SELECT review_id,
  CASE WHEN rating >= 4 THEN 'positive' WHEN rating = 3 THEN 'neutral' ELSE 'negative' END AS sentiment_bucket,
  CASE WHEN length(content) <= 10 THEN 'very_short' WHEN length(content) <= 50 THEN 'short'
       WHEN length(content) <= 200 THEN 'medium' ELSE 'long' END AS length_bucket
FROM reviews""",
    "v_labeled_reviews": """
SELECT l.label_id, l.sentiment, l.confidence, l.annotator_id, a.name AS annotator_name,
  r.review_id, r.content, r.rating, r.thumbs_up, r.review_timestamp,
  app.app_id, app.title AS app_title, app.genre AS app_genre,
  CAST(LENGTH(r.content) AS INTEGER) AS content_length,
  CASE WHEN r.rating >= 4 THEN 'positive' WHEN r.rating = 3 THEN 'neutral' ELSE 'negative' END
    AS star_sentiment_bucket,
  CAST(CASE
    WHEN l.sentiment IN ('very_positive', 'positive') AND r.rating <= 2 THEN 1
    WHEN l.sentiment IN ('very_negative', 'negative') AND r.rating >= 4 THEN 1
    ELSE 0 END AS INTEGER) AS star_label_mismatch
FROM labels l
JOIN reviews r ON l.review_id = r.review_id
JOIN apps app ON r.app_id = app.app_id
JOIN annotators a ON l.annotator_id = a.annotator_id""",
    "pairwise_kappa": """
WITH pairs AS (
  SELECT a.sentiment AS label_a, b.sentiment AS label_b
  FROM labels a JOIN labels b
    ON a.review_id = b.review_id AND a.annotator_id < b.annotator_id
), po AS (
  SELECT COUNT(*) AS n_pairs,
         AVG(CASE WHEN label_a = label_b THEN 1.0 ELSE 0.0 END) AS p_observed
  FROM pairs
), marg AS (
  SELECT label,
         CAST(SUM(CASE WHEN side = 'a' THEN n ELSE 0 END) AS DOUBLE) / (SELECT n_pairs FROM po) AS pa,
         CAST(SUM(CASE WHEN side = 'b' THEN n ELSE 0 END) AS DOUBLE) / (SELECT n_pairs FROM po) AS pb
  FROM (
    SELECT 'a' AS side, label_a AS label, COUNT(*) AS n FROM pairs GROUP BY label_a
    UNION ALL
    SELECT 'b' AS side, label_b AS label, COUNT(*) AS n FROM pairs GROUP BY label_b
  ) l
  GROUP BY label
), pe AS (SELECT SUM(pa * pb) AS p_expected FROM marg)
SELECT po.n_pairs,
  ROUND(po.p_observed * 1000000.0) / 1000000.0 AS p_observed,
  ROUND(pe.p_expected * 1000000.0) / 1000000.0 AS p_expected,
  ROUND(((po.p_observed - pe.p_expected) / (1.0 - pe.p_expected)) * 1000000.0) / 1000000.0 AS kappa
FROM po, pe""",
}
