"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup``, then runs
operations one after another. ``op(i)`` is the ``i``-th operation;
``run`` performs it (the timed part) and returns what ``check`` needs;
``check`` judges the output outside the timed region and returns a
list of problems (empty means correct). ``items`` counts the work items
one operation completed.

With a tracer, each call into a layer's public function runs in a span
named after the layer: ``run`` wraps the calls the benchmark makes, and
``setup`` routes the calls the program makes through the tracer once
warm-up is over (see ``trace.wrap``). ``LAYERS`` names the counters the
traced run reports for each layer, and ``QUALITY`` the result-quality
figures ``quality()`` reports after timing.
"""

from __future__ import annotations

import os
import statistics

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import wrap
from tests.oracle import normalize

PKG = "game_data_etl_pipeline_spark."


def _call(tracer, layer, fn, *args):
    return tracer.call(layer, fn, *args) if tracer is not None else fn(*args)


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def _oracle_problems(name: str, got: pd.DataFrame, want: tuple) -> list[str]:
    cols, rows = normalize(got)
    if (cols, rows) == want:
        return []
    if cols != want[0]:
        return [f"{name}: columns {cols} != oracle {want[0]}"]
    return [f"{name}: {len(rows)} rows vs oracle {len(want[1])}, values differ"]


def warm_up(workload, op) -> None:
    """One untimed, untraced operation whose output must pass its check."""
    problems = workload.check(op, workload.run(op))
    if problems:
        raise RuntimeError(f"warm-up output is wrong: {problems}")


class EtlCycle:
    """One operation is one ``ETLPipeline.run()`` over seeded API
    envelopes, extracted offline into one warehouse that every cycle
    fully refreshes."""

    name = "etl_cycle"
    WARM_CYCLES = 3
    LAYERS = {
        "etl.extract": ("wall_s",),
        "etl.transform": ("wall_s", "jobs"),
        "etl.load": ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "shuffle_mb", "write_mb"),
    }
    QUALITY = ()

    def __init__(self, spark, seed: int, work_dir: str, data_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.cycles = 0
        self.run_ids: set[str] = set()

    def setup(self, tracer=None) -> None:
        from game_data_etl_pipeline_spark.etl import pipeline

        records = gen.api_records(self.seed)
        api_dir = os.path.join(self.work_dir, "api")
        gen.write_envelopes(records, api_dir)
        self.expected = gen.expected_keys(records)
        self.config = {
            "api": {
                "endpoints": list(gen.ENDPOINTS),
                "offline_dir": api_dir,
                # the politeness delay is a courtesy to the live HTTP API;
                # offline it would only add sleep to every cycle
                "request_delay_seconds": 0,
            },
            "landing": {"path": os.path.join(self.work_dir, "landing")},
            "warehouse": {"path": os.path.join(self.work_dir, "warehouse")},
        }
        self.pipeline = pipeline.ETLPipeline(self.spark, self.config)
        # the first cycle runs about 5x a steady one, and JIT compilation
        # keeps adding CPU to the next few (process-tree CPU per cycle on a
        # 4-vCPU VM under local[4]: 10 s, 7.6 s, then ~5 s)
        for _ in range(self.WARM_CYCLES):
            warm_up(self, "cycle")
        if tracer is not None:
            # parse_envelope and transform_all are lazy: most of their
            # Spark work runs under etl.load, which materializes them
            wrap(tracer, self.pipeline.extractor, "land", "etl.extract")
            wrap(tracer, pipeline, "parse_envelope", "etl.transform")
            wrap(tracer, pipeline, "transform_all", "etl.transform")
            wrap(tracer, self.pipeline.loader, "load_all", "etl.load")

    def op(self, i: int) -> str:
        return "cycle"

    def run(self, op: str, tracer=None):
        return self.pipeline.run()

    def items(self, result) -> int:
        return sum(result["counts"].values())

    def check(self, op: str, result) -> list[str]:
        self.cycles += 1
        self.run_ids.add(result["run_id"])
        problems = check_warehouse(self.config["warehouse"]["path"], self.expected)
        runs = pq.read_table(os.path.join(self.config["warehouse"]["path"], "etl_runs")).to_pandas()
        # the package's upsert view: the latest record per run_id
        latest = runs.sort_values("completed_at").groupby("run_id").tail(1)
        ok = latest[latest["status"] == "Success"]
        if len(ok) != self.cycles or set(ok["run_id"]) != self.run_ids:
            problems.append(
                f"etl_runs: {len(ok)} Success rows for {self.cycles} cycles "
                f"({len(self.run_ids)} distinct run ids)"
            )
        return problems


def check_warehouse(warehouse: str, expected: dict[str, set[tuple]]) -> list[str]:
    """Each curated table's row count and key set against ``expected``
    (see ``gen.TABLE_KEYS``)."""
    problems = []
    for table, want in expected.items():
        keys = gen.TABLE_KEYS[table]
        path = os.path.join(warehouse, table)
        if not os.path.isdir(path):
            problems.append(f"{table}: missing")
            continue
        df = pq.read_table(path, columns=list(keys)).to_pandas()
        got = set(df.itertuples(index=False, name=None))
        if len(df) != len(want) or got != want:
            problems.append(f"{table}: {len(df)} rows, {len(got ^ want)} keys differ from the {len(want)} expected")
    return problems


class AnalyticsBatch:
    """One operation is one pass over the 23 ``headline=True`` registry
    queries in a seeded order, each run to the action that produces the
    rows it is checked on. A warm-up pass over the small fixture absorbs
    JIT, codegen and worker start-up."""

    name = "analytics_batch"
    MODULES = (
        "operators.relational",
        "operators.analytics",
        "operators.windows",
        "operators.scale",
        "llmdata.dedup",
        "llmdata.similarity",
        "llmdata.text",
        "llmdata.corpus",
        "llmdata.multimodal",
        "streaming.queries",
    )
    LAYERS = {m: ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "shuffle_mb") for m in MODULES}
    QUALITY = ()

    def __init__(self, spark, seed: int, work_dir: str, data_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(data_dir, "sf0.01")
        self.warm_dir = os.path.join(data_dir, "sf0.001")

    def setup(self, tracer=None, warm: bool = True) -> None:
        from game_data_etl_pipeline_spark import registry

        self.specs = registry.headline_specs()
        modules = {s.fn.__module__.removeprefix(PKG) for s in self.specs.values()}
        if modules != set(self.MODULES):
            raise RuntimeError(f"headline queries come from {sorted(modules)}, expected {sorted(self.MODULES)}")
        con = _duck(self.sf_dir)
        self.oracle = {n: normalize(con.execute(s.oracle).df()) for n, s in self.specs.items()}
        con.close()
        if warm:
            for name in sorted(self.specs):
                self.specs[name].fn(self.spark, self.warm_dir).toPandas()

    def op(self, i: int) -> list[str]:
        return gen.permutation(self.seed, i, list(self.specs))

    def run(self, op, tracer=None):
        return {
            name: _call(
                tracer,
                self.specs[name].fn.__module__.removeprefix(PKG),
                lambda name=name: self.specs[name].fn(self.spark, self.sf_dir).toPandas(),
            )
            for name in op
        }

    def items(self, result) -> int:
        return len(result)

    def check(self, op, result) -> list[str]:
        return [p for name, got in result.items() for p in _oracle_problems(name, got, self.oracle[name])]


class RetrievalServed:
    """One operation is one batch of 8 seeded queries through
    ``retrieval_pipeline_batch_ann``, reading the lexical and IVF-PQ
    indexes built during setup."""

    name = "retrieval_served"
    # the program's stages in the order it composes them; the last is
    # the action on its output, which runs the lazy exact-scan yardstick
    # and the audit joins
    STAGES = (
        "lex_ranked_batch_served",
        "ann_sem_ranked_batch",
        "batch_fuse_mmr",
        "exact_sem_ranked_batch",
        "retrieval_pipeline_batch_ann",
    )
    LAYERS = {
        **{f"llmdata.retrieval.{s}": ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "shuffle_mb") for s in STAGES},
        # lazy: it only plans the exact scan, which runs in the last stage
        "llmdata.retrieval.exact_sem_ranked_batch": ("wall_s",),
        "llmdata.ann_index.build_ann_index": ("wall_s",),
        "llmdata.lex_index.build_lex_index": ("wall_s",),
    }
    QUALITY = ("recall_at_20", "recall_floor_share")
    AUDITS = ("sem_full", "fused_in_bounds", "selected_complete")

    def __init__(self, spark, seed: int, work_dir: str, data_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(data_dir, "sf0.01")
        self.served: dict[int, None] = {}
        self.floor_met: list[bool] = []

    def setup(self, tracer=None, warm: bool = True) -> None:
        from game_data_etl_pipeline_spark.llmdata import retrieval
        from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index
        from game_data_etl_pipeline_spark.llmdata.lex_index import build_lex_index

        self.con = _duck(self.sf_dir)
        emb = self.con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").df()
        self.vec_ids = [int(v) for v in emb["vec_id"]]
        self.emb = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.vocab = [
            r[0]
            for r in self.con.execute(
                "SELECT DISTINCT unnest(string_split(text, ' ')) FROM documents ORDER BY 1"
            ).fetchall()
        ]
        _call(tracer, "llmdata.lex_index.build_lex_index", build_lex_index, self.spark, self.sf_dir)
        _call(tracer, "llmdata.ann_index.build_ann_index", build_ann_index, self.spark, self.sf_dir)
        if warm:
            # an index distinct from every timed batch
            warm_up(self, ("warm", gen.query_batch(self.seed, -1, self.vec_ids, self.vocab)))
        self.ann_sem_ranked_batch = retrieval.ann_sem_ranked_batch
        if tracer is not None:
            # the program localCheckpoints the lexical and dense sides
            # right after building them; that materialization is theirs
            for stage in self.STAGES[:-1]:
                wrap(tracer, retrieval, stage, f"llmdata.retrieval.{stage}", checkpointed=stage in self.STAGES[:2])

    def op(self, i: int) -> tuple:
        return i, gen.query_batch(self.seed, i, self.vec_ids, self.vocab)

    def run(self, op, tracer=None):
        from game_data_etl_pipeline_spark.llmdata.retrieval import retrieval_pipeline_batch_ann

        df = retrieval_pipeline_batch_ann(self.spark, self.sf_dir, op[1])
        return _call(tracer, "llmdata.retrieval.retrieval_pipeline_batch_ann", df.toPandas)

    def items(self, result) -> int:
        return len(result)

    def check(self, op, result) -> list[str]:
        from game_data_etl_pipeline_spark.llmdata.retrieval import _batch_ann_oracle_sql

        idx, qt = op
        problems = []
        if sorted(result["query_id"]) != sorted(qt):
            problems.append(f"batch {idx}: rows for {sorted(result['query_id'])}, asked {sorted(qt)}")
        for a in self.AUDITS:
            bad = result.loc[~result[a].astype(bool), "query_id"].tolist()
            if bad:
                problems.append(f"batch {idx}: {a} false for queries {bad}")
        want = self.con.execute(_batch_ann_oracle_sql(qt)).df().set_index("query_id")["lex_top_docs"]
        got = result.set_index("query_id")["lex_top_docs"]
        diff = [q for q in qt if got.get(q) != want.get(q)]
        if diff:
            problems.append(f"batch {idx}: lexical order differs from the corpus scan for queries {diff}")
        if idx != "warm":
            self.served.update(dict.fromkeys(qt))
            self.floor_met += result["sem_recall_floor_met"].astype(bool).tolist()
        return problems

    def quality(self) -> dict:
        """recall@20 of the served dense top-20 against an exact
        euclidean top-20, over every query served in the timed region,
        and the pass share of the program's own 0.4 recall floor."""
        from game_data_etl_pipeline_spark.llmdata.retrieval import K_EACH

        qids = sorted(self.served)
        ann = self.ann_sem_ranked_batch(self.spark, self.sf_dir, dict.fromkeys(qids, ())).toPandas()
        pos = {v: i for i, v in enumerate(self.vec_ids)}
        ids = np.array(self.vec_ids)
        recalls = []
        for q in qids:
            d = ((self.emb - self.emb[pos[q]]) ** 2).sum(axis=1)
            order = [int(ids[i]) for i in np.lexsort((ids, d)) if ids[i] != q][:K_EACH]
            served = set(ann.loc[ann["query_id"] == q, "doc_id"].astype(int))
            recalls.append(len(served & set(order)) / K_EACH)
        return {
            "recall_at_20": statistics.median(recalls),
            "recall_floor_share": sum(self.floor_met) / len(self.floor_met),
            "recall_queries": len(recalls),
        }


class StreamStore:
    """One operation is one lifecycle pass over the registered streamed
    stores, in a seeded order; each op ingests its corpus in 3
    foreachBatch micro-batches, then serves or screens the result."""

    name = "stream_store"
    OPS = ("op_stream_ann_serve", "op_stream_lex_serve", "op_stream_decontaminate")
    INGESTS = {"op_stream_ann_serve": "embeddings", "op_stream_lex_serve": "documents", "op_stream_decontaminate": "documents"}
    LAYERS = {
        **{f"streaming.queries.{o}": ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "shuffle_mb") for o in OPS},
        "streaming.trigger": ("count", "addBatch_ms", "queryPlanning_ms", "commit_ms", "triggerExecution_ms"),
    }
    QUALITY = ()

    def __init__(self, spark, seed: int, work_dir: str, data_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(data_dir, "sf0.01")

    def setup(self, tracer=None, warm: bool = True) -> None:
        from game_data_etl_pipeline_spark import registry

        specs = registry.all_specs()
        self.specs = {o: specs[o] for o in self.OPS}
        con = _duck(self.sf_dir)
        self.oracle = {o: normalize(con.execute(s.oracle).df()) for o, s in self.specs.items()}
        self.rows = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in set(self.INGESTS.values())}
        con.close()
        if warm:
            warm_up(self, list(self.OPS))

    def op(self, i: int) -> list[str]:
        return gen.permutation(self.seed, i, list(self.OPS))

    def run(self, op, tracer=None):
        return {
            o: _call(tracer, f"streaming.queries.{o}", lambda o=o: self.specs[o].fn(self.spark, self.sf_dir).toPandas())
            for o in op
        }

    def items(self, result) -> int:
        return sum(self.rows[self.INGESTS[o]] for o in result)

    def check(self, op, result) -> list[str]:
        return [p for o, got in result.items() for p in _oracle_problems(o, got, self.oracle[o])]


class ServeMix:
    """One operation is one analytics pass, one retrieval batch and one
    streamed-store pass, each as in its own workload, on one session.
    The three share a session start and the index layer: the streamed
    stores write to the layer the retrieval batch reads, so a change that
    speeds reads by slowing ingest (or the reverse) shows here. Items
    are the requests answered: 23 queries, 8 user queries, 3 store ops.

    Set-up builds the indexes but runs no warm-up operation: a warm-up
    pass would cost about 60 s per run (the cold analytics pass ~36 s,
    the cold stream pass ~23 s on a 4-vCPU VM). So the timed operation
    is the session's first pass over each part, and its time includes
    the JIT and first-use costs that a warm pass would not show."""

    name = "serve_mix"
    PARTS = (AnalyticsBatch, RetrievalServed, StreamStore)
    LAYERS = {layer: counters for part in PARTS for layer, counters in part.LAYERS.items()}
    QUALITY = RetrievalServed.QUALITY

    def __init__(self, *args) -> None:
        self.parts = [part(*args) for part in self.PARTS]

    def setup(self, tracer=None) -> None:
        for part in self.parts:
            part.setup(tracer, warm=False)

    def op(self, i: int) -> list:
        return [part.op(i) for part in self.parts]

    def run(self, op, tracer=None) -> list:
        return [part.run(o, tracer) for part, o in zip(self.parts, op)]

    def items(self, result) -> int:
        return sum(len(r) for r in result)

    def check(self, op, result) -> list[str]:
        return [p for part, o, r in zip(self.parts, op, result) for p in part.check(o, r)]

    def quality(self) -> dict:
        return self.parts[1].quality()


WORKLOADS = {w.name: w for w in (EtlCycle, AnalyticsBatch, RetrievalServed, StreamStore, ServeMix)}


def layer_metric_names(workload) -> list[str]:
    """``<layer>.<counter>`` for every counter the workload's LAYERS
    name, then its result-quality figures (retrieval's recall)."""
    return [f"{layer}.{c}" for layer, counters in workload.LAYERS.items() for c in counters] + [
        f"llmdata.retrieval.{q}" for q in workload.QUALITY
    ]
