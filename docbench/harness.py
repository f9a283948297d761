"""One benchmark run in one process: generate inputs, start the session,
set up three times, check every operation type against its DuckDB
oracle, measure a closed loop of whole passes for a fixed window, and
print one JSON line.

Started by run.py, which owns the run directory and the process group.
Every operation ("request") is one registered query callable
(`registry.queries()`) driven by one client: construct the DataFrame,
then run it through a `noop` write that also observes a row count and an
order-insensitive row hash. Each observation must match the oracle's row
count and the first hash seen for its operation type; a mismatch counts
against success_rate and is printed.

Request walls fall over the first executions of each operation type
while the JIT compiles hot paths. The first set-up and the oracle checks
take the cold executions, and the window starts after a fixed count of
executions, so it starts at the same point of that curve on a fast host
and a slow one. The window's metrics are medians over at least
MIN_PASSES passes, so neither the slower first pass nor one pass slowed
by the host moves them. There is no untimed warm-up pass: it would add
about 6 s to every run, which the benchmark's time budget lacks when the
host is slow.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import numpy as np

from . import gen, stats
from .trace import Tracer, layer_metrics

SETUP_REPEATS = 3
MIN_PASSES = 3  # a median of three rejects one pass the host slowed
HASH_MASK = 0xFFFFFFF  # 28-bit row hashes: their sum cannot overflow a bigint
# retrieval_session's set-up builds the posting store every lexical ranker
# serves from, then the IVF centroid substrate (q_ivf_topk's first call);
# the trigram store and the other substrates are built by the oracle checks
SETUP_QUERIES = ("q_posting_index_build", "q_ivf_topk")
STORE_QUERIES = ("q_posting_index_build", "q_trigram_index_build")

T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"docbench [{time.perf_counter() - T0:7.2f}] {msg}", file=sys.stderr, flush=True)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]  # one pass runs each once
    n_docs: int
    n_vecs: int
    shuffle: bool  # a seeded permutation of ops per pass
    layers: tuple[str, ...]  # layers a traced run must see called


# ingest: the reference write path plus curation. Most work is in the DOCX
# source, chunker, embedder, sectionizer and dedup operators and in Python
# workers; stores and substrates are idle.
INGEST = Workload(
    "ingest",
    ("q_docx_pipeline", "q_chunk_recursive", "q_point_records",
     "q_client_embed_profile", "q_exact_dedup", "q_minhash_near_dup"),
    n_docs=80, n_vecs=100, shuffle=False,
    layers=("io", "queries", "plan", "sources.docx", "operators.chunker",
            "operators.embedder", "operators.sectionizer", "operators.dedup", "python"),
)
# retrieval_session: short requests against prebuilt stores, in one
# long-lived session without clearCache(); table loading, construction,
# planning and small-stage scheduling dominate, and substrate hits and
# store adopts are exercised. The DOCX source and chunker are idle.
RETRIEVAL = Workload(
    "retrieval_session",
    ("q_topk_cosine", "q_ivf_topk", "q_bm25_retrieval", "q_rag_retrieval", "q_trigram_search"),
    n_docs=300, n_vecs=1000, shuffle=True,
    layers=("io", "queries", "plan", "operators.similarity", "store", "substrate"),
)
WORKLOADS = {w.name: w for w in (INGEST, RETRIEVAL)}


class Failure(Exception):
    """An operation type that failed its oracle check."""


class Run:
    def __init__(self, wl: Workload, seed: int, run_dir: str):
        self.wl, self.seed, self.run_dir = wl, seed, run_dir
        self.tracer: Tracer | None = None
        self.spark = None
        self.base = os.path.join(run_dir, "data", "base")
        self.sf = self.base
        self.n_dirs = 0
        self.oracle_rows: dict[str, int] = {}
        self.hashes: dict[str, int | None] = {}
        self.observed: list[tuple[str, tuple]] = []
        self.attempted = self.failed = 0
        self.orders = self._orders()

    # --- session ----------------------------------------------------------
    def start(self) -> float:
        """Start the engine session; returns the seconds it took."""
        from etl_ai_assistent_spark import registry
        from etl_ai_assistent_spark.queries import docx as qdocx
        from etl_ai_assistent_spark.session import get_spark

        # the engine's DOCX fixture, still named by io.fixture_tag, lives in
        # the run directory instead of /tmp
        engine_dir = qdocx._fixture_dir
        qdocx._fixture_dir = lambda sf: os.path.join(
            self.run_dir, "docx", os.path.basename(engine_dir(sf)))
        self.docx = qdocx
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"docbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            },
        )
        self.spark.range(1).collect()
        t = time.perf_counter() - t0
        self.queries = registry.queries()
        return t

    # --- corpus directories -------------------------------------------------
    def fresh_dir(self) -> None:
        """Serve from the generated bytes hard-linked under a new basename:
        every store key (store.corpus_key) and substrate key (sf_dir) is
        new while the work stays identical. The previous directory's
        stores and catalog tables are removed first."""
        self.drop_stores()
        self.n_dirs += 1
        d = os.path.join(self.run_dir, "data", f"c{self.n_dirs}")
        os.makedirs(d)
        for f in os.listdir(self.base):
            os.link(os.path.join(self.base, f), os.path.join(d, f))
        self.sf = d

    def drop_stores(self) -> None:
        tag = os.path.basename(self.sf)
        root = os.environ["SPARK_GRAFT_STORE_ROOT"]
        for fam in os.listdir(root):
            for d in os.listdir(os.path.join(root, fam)):
                if d.startswith(f"{tag}_"):
                    shutil.rmtree(os.path.join(root, fam, d))
        for t in self.spark.catalog.listTables():
            if f"_{tag}_" in t.name:
                self.spark.sql(f"DROP TABLE {t.name}")

    # --- one request --------------------------------------------------------
    def request(self, name: str) -> float:
        """Construct, plan and execute one registered query through a noop
        write; returns its wall time. The observed (row count, row hash)
        is kept for verify()."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        tr = self.tracer
        span = tr.span if tr else (lambda *a: nullcontext())
        self.attempted += 1
        with tr.op(name, self.spark) if tr else nullcontext():
            t0 = time.perf_counter()
            with span("queries", name):
                df = self.queries[name](self.spark, self.sf)
            with span("check", "observe"):
                obs = Observation()
                df = df.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*df.columns).bitwiseAND(HASH_MASK)).alias("h"),
                )
            if tr:
                # planning alone, once more than the write does: the traced
                # run's overhead includes it
                with span("plan", "plan"):
                    df._jdf.queryExecution().executedPlan()
            with span("write", "noop"):
                df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
        self.observed.append((name, (obs.get["n"], obs.get["h"])))
        return wall

    def verify(self) -> None:
        """Every observation since the last call against its operation
        type's oracle row count and the first row hash seen for it; a
        mismatch counts as a failed operation and is printed."""
        for name, (n, h) in self.observed:
            h0 = self.hashes.setdefault(name, h)
            if n != self.oracle_rows[name] or h != h0:
                self.failed += 1
                print(f"FAIL {name} on {self.sf}: {n} rows, hash {h}; oracle "
                      f"{self.oracle_rows[name]} rows, first hash {h0}", file=sys.stderr)
        self.observed.clear()

    # --- set-up -------------------------------------------------------------------
    def setup_once(self) -> float:
        """The workload's set-up from empty; returns its timed part.
        ingest: the engine's DOCX fixture write. retrieval_session: the
        posting store build and the IVF substrate build on a fresh corpus
        directory."""
        if self.wl is INGEST:
            shutil.rmtree(self.docx._fixture_dir(self.sf), ignore_errors=True)
            t0 = time.perf_counter()
            self.docx.docx_corpus_dir(self.spark, self.sf)
            return time.perf_counter() - t0
        self.fresh_dir()
        return sum(self.request(q) for q in SETUP_QUERIES)

    # --- checks ----------------------------------------------------------------
    def check(self) -> None:
        """Every operation type, set-up ones included, against its DuckDB
        oracle over views of the generated tables only; then verify the
        set-up's observations."""
        import duckdb

        from etl_ai_assistent_spark import parity

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.sf, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            stores = STORE_QUERIES if self.wl is RETRIEVAL else ()
            for name in stores + self.wl.ops:
                res = parity.check_query(self.spark, name, self.sf, con)
                if not res.ok or res.row_count[0] <= 0:
                    raise Failure(f"oracle check failed: {res}")
                self.oracle_rows[name] = res.row_count[0]
        finally:
            con.close()
        self.verify()

    @contextmanager
    def tracing(self, tr: Tracer | None):
        """Route requests through `tr`'s wrappers and spans, when given."""
        if tr is None:
            yield
            return
        self.tracer = tr
        tr.install()
        try:
            yield
        finally:
            tr.uninstall()
            self.tracer = None

    # --- passes ---------------------------------------------------------------------
    def _orders(self):
        """Pass orders, endlessly: the workload's ops, or a seeded
        permutation of them per pass."""
        rng = np.random.default_rng([self.seed, 7])
        ops = self.wl.ops
        while True:
            yield tuple(ops[i] for i in rng.permutation(len(ops))) if self.wl.shuffle else ops

    def one_pass(self, traced: Tracer | None = None) -> dict[str, float]:
        """One pass, traced when `traced` is given; its request walls by
        operation type."""
        order = next(self.orders)
        with self.tracing(traced):
            walls = {n: self.request(n) for n in order}
        log(f"pass{' traced' if traced else ''} {sum(walls.values()):.3f} s "
            + " ".join(f"{n[2:]}={w:.2f}" for n, w in walls.items()))
        return walls

    def window(self, seconds: float) -> list[dict[str, float]]:
        """Closed loop of whole passes until `seconds` of timed work and
        at least MIN_PASSES passes; returns each pass's request walls by
        operation type."""
        passes: list[dict[str, float]] = []
        while len(passes) < MIN_PASSES or sum(sum(p.values()) for p in passes) < seconds:
            passes.append(self.one_pass())
        self.verify()
        return passes

    def cache(self) -> tuple[int, float]:
        """(cached RDDs, MB of storage memory they hold) right now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        held = [i for i in infos if i.numCachedPartitions() > 0]
        return len(held), sum(i.memSize() for i in held) / 1e6


def end_to_end(run: Run, setup_s: float, passes: list[dict[str, float]]) -> dict:
    """request_p50_s: each operation type's median request wall,
    geometric mean over the types. The median of all requests together
    falls on the boundary between two types' times, and moved with which
    type landed there: its spread across runs was twice that of this
    figure. requests_per_s: the requests of one pass over the median pass
    wall. Both are medians over at least MIN_PASSES passes, so one pass
    slowed by the host moves neither."""
    pass_walls = [sum(p.values()) for p in passes]
    log(f"window {sum(pass_walls):.2f} s: {len(passes)} passes")
    return {
        "setup_s": (setup_s, "s"),
        "request_p50_s": (statistics.geometric_mean(
            [stats.median([p[n] for p in passes]) for n in run.wl.ops]), "s"),
        "requests_per_s": (len(run.wl.ops) / stats.median(pass_walls), "1/s"),
        "success_rate": ((run.attempted - run.failed) / run.attempted, "share"),
    }


def traced(run: Run, tr: Tracer, seconds: float, start_s: float, out_path: str) -> dict:
    """The traced run: blocks of four passes, untraced, traced, traced,
    untraced, for twice the window and at least two blocks; the overhead
    compares the mean pass walls of the two kinds. Pass walls still fall
    while the JIT warms up, and in each block the two kinds sit at the
    same mean position. Store and substrate build metrics are per set-up;
    every other layer metric is per traced window operation."""
    setup_ops = list(tr.ops)
    first = len(tr.ops)
    plain: list[float] = []
    walls: list[float] = []
    while sum(plain) + sum(walls) < 2 * seconds or len(walls) < 4:
        for kind in (plain, walls, walls, plain):
            kind.append(sum(run.one_pass(traced=tr if kind is walls else None).values()))
    run.verify()
    rdds, mb = run.cache()
    docs_bytes = os.path.getsize(os.path.join(run.base, "documents.parquet"))
    out = layer_metrics(tr, setup_ops, SETUP_REPEATS, tr.ops[first:], run.wl.layers, docs_bytes)
    out["session.start_s"] = (start_s, "s")
    out["cache.rdds_end"] = (rdds, "count")
    out["cache.mb_end"] = (mb, "MB")
    out["trace.overhead_share"] = (sum(walls) / sum(plain) - 1, "share")
    tr.dump(out_path)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    wl = WORKLOADS[a.workload]
    run = Run(wl, a.seed, a.run_dir)
    gen.write(run.base, a.seed, wl.n_docs, wl.n_vecs)
    try:
        start_s = run.start()
        tr = Tracer() if a.trace else None
        with run.tracing(tr):  # store builds happen in set-up only: trace it
            setups = [run.setup_once() for _ in range(SETUP_REPEATS)]
        log(f"session start {start_s:.2f} s, set-ups {[round(x, 2) for x in setups]}")
        run.check()
        log("oracle checks passed")
        if tr:
            # the spans outlive the run directory, one file per workload
            spans = os.path.join(os.path.dirname(a.run_dir), f"spans-{wl.name}.json")
            metrics = traced(run, tr, a.seconds, start_s, spans)
        else:
            metrics = end_to_end(run, start_s + stats.median(setups), run.window(a.seconds))
    except Failure as e:
        print(f"FAIL {e}", file=sys.stderr)
        return 1
    finally:
        if run.spark is not None:
            run.spark.stop()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
