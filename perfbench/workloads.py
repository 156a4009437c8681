"""The four benchmark workloads.

Each workload drives the program only through its public functions,
and only with the paths of the generated inputs. A pass is one closed-
loop unit of work (a query cycle, a curation run, a basetable+training
run, a landing round); every pass is checked against an independent
DuckDB computation or the planted ground truth, outside the timed
region. Layer calls are wrapped in spans named after the layer.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb

from big_data_tools_spark.io.schemas import TABLE_NAMES, YELP_SCHEMAS
from big_data_tools_spark.io.sinks import read_back
from big_data_tools_spark.io.sources import load_table, read_json
from big_data_tools_spark.operators.cache import release_all_caches, release_caches
from tests.oracle import rowset  # the DuckDB-twin row comparison the oracle tests use


@dataclass
class Op:
    """One checked operation: ``ok`` is False when it raised or its
    output check failed."""

    name: str
    seconds: float
    ok: bool
    detail: str = ""


@dataclass
class PassResult:
    seconds: float
    ops: list[Op]
    samples: list[float]  # per-operation latencies for op_p50_s/op_p90_s
    layer: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, data_dir: str, truth: dict, seed: int, work_dir: str):
        self.data_dir, self.truth, self.seed, self.work_dir = data_dir, truth, seed, work_dir

    def register(self, spark, tr) -> None:
        """Input registration, timed as part of set-up."""

    def run_pass(self, spark, tr) -> PassResult:
        raise NotImplementedError

    def trace_hooks(self, tr) -> None:
        """Install extra spans for the traced phase."""

    def has_next(self) -> bool:
        return True


# ------------------------------------------------------- warehouse_stream
# TPC-H-shaped reporting queries whose DuckDB twins return exact values
# (counts, raw columns, keys). Twins that end in round() of a double
# sum or mean are left out: at an exact half-cent total Spark's
# round(double, 2) rounds up and DuckDB's rounds down, which fails the
# check on some seeds (monthly_revenue on seed 1, nation_product_profit
# on seed 42) — a defect of those twins, reported in README.md. Six,
# not every exact one: pass time is per-query overhead, and a shorter
# pass lets the measured seconds hold more passes.
WAREHOUSE_QUERIES = (
    "segment_pivot",                      # pivot to wide counts
    "topk_orders_per_customer",           # row_number top-k window
    "customer_order_count_distribution",  # Q13: outer join + two-level agg
    "late_ship_priority_counts",          # Q4: semi join + agg
    "late_line_priority_split",           # Q12: join + conditional counts
    "regional_min_price_suppliers",       # Q2: multi-way join + min
)
_CODEGEN = re.compile(r"\*\((\d+)\)")
_BHJ = re.compile(r"^\(\d+\) BroadcastHashJoin", re.M)  # one details header per join


class WarehouseStream(Workload):
    """A fixed, seed-shuffled cycle of star-schema reporting queries;
    one query = build + plan + execute + collect."""

    name = "warehouse_stream"

    def __init__(self, *a):
        super().__init__(*a)
        from big_data_tools_spark.queries import all_queries

        specs = all_queries()
        self.order = list(WAREHOUSE_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        self.specs = {n: specs[n] for n in self.order}
        con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {}
        for n, spec in self.specs.items():
            cur = con.execute(spec.sql)
            cols = [d[0] for d in cur.description]
            self.expected[n] = (sorted(cols), rowset(cols, cur.fetchall()))
        con.close()

    def register(self, spark, tr) -> None:
        with tr.span("io.register"):
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                load_table(spark, self.data_dir, t).schema

    def run_pass(self, spark, tr) -> PassResult:
        from big_data_tools_spark.plans.lint import count_exchanges, explain_text

        ops, layer = [], {"plans.exchanges": 0, "plans.broadcast_joins": 0,
                          "plans.codegen_stages": 0}
        t_pass = time.perf_counter()
        for n in self.order:
            spec = self.specs[n]
            t0 = time.perf_counter()
            try:
                with tr.span(f"query.{n}"):
                    with tr.span("queries.build"):
                        df = spec.fn(spark, self.data_dir)
                    with tr.span("plans.optimize"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("session.execute"):
                        rows = df.collect()
                dt = time.perf_counter() - t0
                cols = list(df.columns)
                if tr.enabled:
                    layer["plans.exchanges"] += count_exchanges(df)
                    layer["plans.broadcast_joins"] += len(_BHJ.findall(explain_text(df)))
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    layer["plans.codegen_stages"] += len(set(_CODEGEN.findall(plan)))
                release_caches(df)
                release_all_caches()
                want_cols, want_rows = self.expected[n]
                ok = sorted(cols) == want_cols and rowset(cols, rows) == want_rows
                ops.append(Op(n, dt, ok, "" if ok else "rows differ from the DuckDB twin"))
            except Exception as e:  # a failed query is counted, not fatal
                ops.append(Op(n, time.perf_counter() - t0, False, str(e)[:300]))
        seconds = time.perf_counter() - t_pass
        return PassResult(seconds, ops, [o.seconds for o in ops], layer)


# -------------------------------------------------------- corpus_curation
RECALL_FLOOR = 0.9


class CorpusCuration(Workload):
    """build_corpus (curate -> pack -> partitioned parquet + manifest),
    then the minhash dedup tier over the written corpus."""

    name = "corpus_curation"

    def __init__(self, *a):
        super().__init__(*a)
        self.out_dir = os.path.join(self.work_dir, "corpus_out")
        self.planted = {tuple(p) for p in self.truth["near_pairs"]}

    def register(self, spark, tr) -> None:
        with tr.span("io.register"):
            load_table(spark, self.data_dir, "documents").schema

    def run_pass(self, spark, tr) -> PassResult:
        from big_data_tools_spark.operators.dedup_facade import dedup
        from big_data_tools_spark.pipeline.corpus_build import build_corpus

        t0 = time.perf_counter()
        try:
            with tr.span("pipeline.corpus_build"):
                summary = build_corpus(spark, self.data_dir, self.out_dir,
                                       n_buckets=int(os.environ["SPARK_GRAFT_CPUS"]))
            with tr.span("operators.dedup"):
                docs = read_back(spark, os.path.join(self.out_dir, "documents"))
                pairs_df = dedup(docs.select("doc_id", "text"), tier="minhash")
                pairs = {(r[0], r[1]) for r in pairs_df.select("id_a", "id_b").collect()}
                release_caches(pairs_df)
                release_all_caches()
        except Exception as e:
            dt = time.perf_counter() - t0
            return PassResult(dt, [Op("curation", dt, False, str(e)[:300])], [dt])
        dt = time.perf_counter() - t0
        ok, detail, layer = self._check(summary, pairs)
        return PassResult(dt, [Op("curation", dt, ok, detail)], [dt], layer)

    def _check(self, summary: dict, pairs: set) -> tuple[bool, str, dict]:
        con = duckdb.connect()
        glob = os.path.join(self.out_dir, "documents", "*", "*.parquet")
        recount = {
            s: (n, t) for s, n, t in con.execute(
                f"SELECT source, count(*), sum(n_tok) FROM read_parquet('{glob}') GROUP BY 1"
            ).fetchall()
        }
        kept = {r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{glob}')").fetchall()}
        con.close()
        manifest = {s: (v["n_docs"], v["total_tokens"]) for s, v in summary["per_source"].items()}
        problems = []
        if recount != manifest or summary["n_docs"] != len(kept):
            problems.append(f"manifest {manifest} != recount {recount}")
        leaked = [g for g in self.truth["exact_groups"] if set(g[1:]) & kept]
        if leaked:
            problems.append(f"{len(leaked)} planted exact duplicates survived")
        live = {p for p in self.planted if p[0] in kept and p[1] in kept}
        found = live & pairs
        recall = len(found) / len(live) if live else 1.0
        precision = len(pairs & self.planted) / len(pairs) if pairs else 1.0
        if recall < RECALL_FLOOR:
            problems.append(f"minhash recall {recall:.3f} < {RECALL_FLOOR}")
        layer = {"operators.dedup.pairs_emitted": len(pairs),
                 "operators.dedup.precision": precision, "operators.dedup.recall": recall}
        return not problems, "; ".join(problems), layer


# ------------------------------------------------------ yelp_basetable_ml
AUC_FLOOR = 0.75
_YELP_TABLES = ("business", "review", "checkin", "tip", "user", "covid")


class YelpBasetableML(Workload):
    """read_json(YELP_SCHEMAS) -> build_basetable -> featurize ->
    train_models (LR/RF/GBT) — the source paper's pipeline."""

    name = "yelp_basetable_ml"

    def __init__(self, *a):
        super().__init__(*a)
        d = self.data_dir
        con = duckdb.connect()
        # row count and label sum of the basetable, recomputed the way
        # the yelp_basetable_mini twin composes the pipeline: distinct
        # covid rows, inner-joined to food businesses and to businesses
        # that have at least one review by a known user
        self.expected = con.execute(f"""
            WITH cv AS (
                SELECT DISTINCT * FROM read_json('{d}/covid.json', format='newline_delimited',
                    columns={{'business_id': 'VARCHAR', 'delivery or takeout': 'VARCHAR'}})
            ), b AS (
                SELECT business_id FROM read_json('{d}/business.json',
                    format='newline_delimited',
                    columns={{'business_id': 'VARCHAR', 'categories': 'VARCHAR'}})
                WHERE categories LIKE '%Restaurants%' OR categories LIKE '%Food%'
                   OR categories LIKE '%Cafes%' OR categories LIKE '%Bars%'
            ), uf AS (
                SELECT DISTINCT r.business_ID AS business_id
                FROM read_json('{d}/review.json', format='newline_delimited',
                    columns={{'business_ID': 'VARCHAR', 'user_id': 'VARCHAR'}}) r
                JOIN read_json('{d}/user.json', format='newline_delimited',
                    columns={{'user_id': 'VARCHAR', 'fans': 'BIGINT'}}) u USING (user_id)
            )
            SELECT count(*),
                   sum(CASE WHEN upper(cv."delivery or takeout") = 'TRUE' THEN 1 ELSE 0 END)
            FROM cv JOIN b USING (business_id) JOIN uf USING (business_id)
        """).fetchone()
        con.close()

    def _tables(self, spark) -> dict:
        return {n: read_json(spark, os.path.join(self.data_dir, f"{n}.json"), YELP_SCHEMAS[n])
                for n in _YELP_TABLES}

    def register(self, spark, tr) -> None:
        with tr.span("io.register"):
            for df in self._tables(spark).values():
                df.schema

    def trace_hooks(self, tr) -> None:
        from pyspark.ml.classification import (
            GBTClassifier,
            LogisticRegression,
            RandomForestClassifier,
        )

        import big_data_tools_spark.ml.pipeline as mlp

        def wrap(fn, span):
            def inner(*a, **k):
                with tr.span(span):
                    return fn(*a, **k)
            return inner

        for cls, span in ((LogisticRegression, "ml.fit_lr"),
                          (RandomForestClassifier, "ml.fit_rf"), (GBTClassifier, "ml.fit_gbt")):
            cls.fit = wrap(cls.fit, span)
        mlp.evaluate_model = wrap(mlp.evaluate_model, "ml.eval")

    def run_pass(self, spark, tr) -> PassResult:
        from pyspark.sql import functions as F

        from big_data_tools_spark.ml.pipeline import featurize, train_models
        from big_data_tools_spark.pipeline.yelp import build_basetable

        t0 = time.perf_counter()
        try:
            with tr.span("io.read_json"):
                t = self._tables(spark)
            with tr.span("pipeline.basetable"):
                bt = build_basetable(t["business"], t["review"], t["checkin"], t["tip"],
                                     t["user"], t["covid"])
                got = tuple(bt.agg(F.count(F.lit(1)), F.sum("label")).first())
            with tr.span("ml.featurize"):
                train, test, _ = featurize(bt)
            with tr.span("ml.train_models"):
                results = train_models(train, test)
        except Exception as e:
            dt = time.perf_counter() - t0
            return PassResult(dt, [Op("pipeline", dt, False, str(e)[:300])], [dt])
        dt = time.perf_counter() - t0
        aucs = {r.name: r.metrics["test_auc"] for r in results}
        problems = []
        if got != tuple(self.expected):
            problems.append(f"basetable (rows, label sum) {got} != DuckDB {self.expected}")
        if min(aucs.values()) < AUC_FLOOR:
            problems.append(f"test AUC {aucs} below {AUC_FLOOR}")
        return PassResult(dt, [Op("pipeline", dt, not problems, "; ".join(problems))], [dt],
                          {"ml.test_auc": min(aucs.values())})


# ---------------------------------------------------------- events_ingest
class EventsIngest(Workload):
    """Each pass lands the next round's event file and drains it through
    read_events_stream -> dedup_events_stream -> stateless_rollup_sink
    (availableNow). The dedup state and the file-source log carry across
    rounds through the session's checkpoint location; the rollup's
    mergeable state lives in the sink's parquet table."""

    name = "events_ingest"

    def __init__(self, *a):
        super().__init__(*a)
        self.src = os.path.join(self.work_dir, "events_src")
        self.out = os.path.join(self.work_dir, "rollup")
        os.makedirs(self.src, exist_ok=True)
        self.pending = list(self.truth["files"])
        self.landed: list[str] = []
        self._land()  # the stream source needs one file for its schema probe

    def _land(self) -> None:
        f = self.pending.pop(0)
        dest = os.path.join(self.src, os.path.basename(f))
        shutil.copyfile(f, dest)
        self.landed.append(dest)

    def has_next(self) -> bool:
        return bool(self.pending)

    def register(self, spark, tr) -> None:
        from big_data_tools_spark.streaming.events import read_events_stream

        with tr.span("io.register"):
            read_events_stream(spark, self.src).schema

    def run_pass(self, spark, tr) -> PassResult:
        from big_data_tools_spark.streaming.events import dedup_events_stream, read_events_stream
        from big_data_tools_spark.streaming.upsert import read_rollup, stateless_rollup_sink

        self._land()
        t0 = time.perf_counter()
        try:
            with tr.span("streaming.drain"):
                stream = read_events_stream(spark, self.src)
                q = stateless_rollup_sink(dedup_events_stream(stream), self.out)
                q.awaitTermination()
            dt = time.perf_counter() - t0
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            got = {tuple(r) for r in read_rollup(spark, self.out)
                   .select("event_type", "n", "sum", "min", "max").collect()}
        except Exception as e:
            dt = time.perf_counter() - t0
            return PassResult(dt, [Op("round", dt, False, str(e)[:300])], [dt])
        con = duckdb.connect()
        files = ", ".join(f"'{p}'" for p in self.landed)
        want = set(con.execute(f"""
            SELECT event_type, count(value), sum(CAST(value AS DECIMAL(28,2))),
                   min(value), max(value)
            FROM (SELECT DISTINCT * FROM read_parquet([{files}])) GROUP BY 1
        """).fetchall())
        con.close()
        if not progress:
            return PassResult(dt, [Op("round", dt, False, "no micro-batch read the new file")],
                              [dt])
        ok = got == want
        batch = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        layer = {  # per data micro-batch of this round
            "streaming.batch_s": statistics.fmean(batch),
            "streaming.sink_s": statistics.fmean(p["durationMs"].get("addBatch", 0) / 1000
                                                 for p in progress),
            "streaming.rows_per_batch": statistics.fmean(p["numInputRows"] for p in progress),
            "streaming.state_rows": sum(s["numRowsTotal"] for s in progress[-1]["stateOperators"]),
        }
        return PassResult(dt, [Op("round", dt, ok, "" if ok else f"rollup {got} != batch {want}")],
                          batch, layer)


WORKLOADS = {w.name: w for w in (WarehouseStream, CorpusCuration, YelpBasetableML, EventsIngest)}
