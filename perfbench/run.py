"""KG-construction benchmark for the spark-kg engine.

    python3 perfbench/run.py --workload append --seed 1 --seconds 10 --trace 0

One closed-loop client runs one operation at a time against one Spark app on
``local[<cores>]``, for ``--seconds`` seconds after an untimed set-up, and
checks every operation's output. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. Workloads,
metrics and the layer -> metric -> workload map are in perfbench/README.md.

Everything the run writes lives under ``.perfbench/`` in the checkout and is
removed at exit; the Spark JVM is stopped and waited for before the result is
printed.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Observation
from pyspark.sql import functions as F

# the program under test: a directory holding only the benchmark fails
# here, before any result is printed
import __spark_entry__ as entry
from importtoneo4j_spark.datagen import TranscriptGenerator
from importtoneo4j_spark.operators.link import (
    drop_hot_buckets,
    edges_from_sig,
    lsh_dropped_buckets,
    lsh_keys,
)
from importtoneo4j_spark.plans.pipeline import KGPipeline
from importtoneo4j_spark.session import get_spark
from importtoneo4j_spark.sources.tables import TableStore
from perfbench.checks import MIN_PR, pipeline_pr, same_rows, triple_pr
from perfbench.inputs import WideVocabGenerator, write_tables, write_transcripts
from perfbench.tracing import STAGE_METHODS, EventLog, Span, Tracer

# the frozen bench.py's headline query set
HEADLINE = [
    "kg_flagship",
    "q1_pricing_summary",
    "q3_unshipped_revenue",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "j7_first_wins_merge",
    "w1_stable_order_topk",
    "text_token_stats",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
]
# every table a rebuild or an append writes through TableStore
TABLES = [
    "ingested", "extracted", "vocab", "vocab_next", "same_as_edges",
    "same_as_next", "link_edges", "link_sig", "link_sig_next", "links",
    "triples", "triples_delta", "nodes", "conv_watermarks",
    "conv_watermarks_next", "schema_registry", "lineage",
]
# pipe.metrics entry that counts each stage's output rows
ROWS_OUT = {
    "ingest": ("ingest", "valid"),
    "extract": ("extract", "assertions"),
    "link": ("link", "edges"),
    "canonicalize": ("canonicalize", "entities"),
    "materialize": ("materialize", "triples"),
}
SIZES = {
    # conversations per corpus, entity-pool sizes, headline table scale
    # (1.0 = the engine's bench scale factor 0.1: 600k lineitem rows)
    "full": {"convs": 2000, "entities": 1500, "wide_entities": 40000, "tables": 1.0},
    "tiny": {"convs": 200, "entities": 150, "wide_entities": 2000, "tables": 0.05},
}
APPEND_GROWTH = 1.1  # the append corpus is a 10%-larger prefix-stable superset
DRIVER_MEM = "2g"  # well under host RAM, so peak RSS measures the program
YOUNG_GEN = "512m"

END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "store_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for st in STAGE_METHODS:
        units.update(
            {
                f"{st}.wall_s": "s",
                f"{st}.rows_out": "count",
                f"{st}.spark_jobs": "count",
                f"{st}.spark_tasks": "count",
                f"{st}.executor_s": "s",
                f"{st}.core_util": "ratio",
                f"{st}.shuffle_write_mb": "MB",
                f"{st}.spill_mb": "MB",
                f"{st}.gc_s": "s",
            }
        )
    units.update({f"tables.{t}.write_s": "s" for t in TABLES})
    units.update(
        {
            "tables.writes": "count",
            "tables.promotes": "count",
            "tables.promote_s": "s",
            "link.lsh_candidate_pairs": "count",
            "link.lsh_dropped_buckets": "count",
            "link.verified_ratio": "ratio",
        }
    )
    for q in HEADLINE:
        units.update({f"q.{q}.wall_s": "s", f"q.{q}.spark_jobs": "count"})
    units.update(
        {
            "op.wall_s": "s",
            "op.spark_jobs": "count",
            "op.spark_stages": "count",
            "op.spark_tasks": "count",
            "op.executor_s": "s",
            "op.core_util": "ratio",
            "op.shuffle_write_mb": "MB",
            "op.spill_mb": "MB",
            "op.gc_s": "s",
            "op.unattributed_jobs": "count",
            "trace_overhead": "ratio",
        }
    )
    return units


# ------------------------------------------------------------------ session


class Env:
    """The run's scratch directory and its one Spark application."""

    def __init__(self, scratch: str, cores: int) -> None:
        self.scratch = scratch
        self.cores = cores
        self.spark = None
        self.event_log: str | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def start(self, event_log: bool = False) -> None:
        """Start (or, after stop(), restart in the same JVM) the session.
        With ``event_log`` Spark writes an uncompressed, non-rolling JSON
        event log that tracing.EventLog reads back."""
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # fixed heap and young-generation sizes: with G1's adaptive
            # sizing the driver's peak RSS swung 1.3-2.7 GB between identical
            # runs; fixed, it follows the program's long-lived data (+-3%)
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={self.path('tmp')}"
            ),
        }
        if event_log:
            self.event_log = self.path("eventlog")
            os.makedirs(self.event_log)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm(self) -> subprocess.Popen | None:
        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the driver JVM, of its Python worker
        processes (the daemon and the workers it forked that are still
        alive) and of this process."""
        jvm = self.jvm().pid
        workers = _descendants(jvm)
        mb = {pid: _hwm_mb(pid) for pid in (jvm, os.getpid(), *workers)}
        print(
            f"[perfbench] peak RSS MB: jvm {mb[jvm]:.0f} python {mb[os.getpid()]:.0f}"
            f" workers {sum(mb[p] for p in workers):.0f} ({len(workers)} processes)",
            file=sys.stderr,
        )
        return sum(mb.values())

    def close(self) -> None:
        """Stop Spark, end the JVM (it exits when its stdin closes) and wait
        for it."""
        proc = self.jvm()
        self.stop()
        if proc is None:
            return
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except FileNotFoundError:  # the process ended meanwhile
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the field after the parenthesized command name is the state,
                # then the parent pid
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
    found, frontier = [], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        found += kids
        frontier = kids
    return found


def in_child(fn) -> None:
    """Run ``fn`` in a forked child process and wait for it; its memory and
    time then stay out of this process's figures."""
    proc = multiprocessing.get_context("fork").Process(target=fn)
    proc.start()
    proc.join()
    if proc.exitcode != 0:
        raise RuntimeError(f"child process failed with exit code {proc.exitcode}")


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / 1e6


# ---------------------------------------------------------------- workloads


class PipelineWorkload:
    """``rebuild``, ``wide_vocab`` and ``append``: one operation is one
    ``KGPipeline.run(resume=False)`` on a fresh workdir."""

    def __init__(self, name: str, seed: int, size: dict, env: Env) -> None:
        self.name, self.env = name, env
        self.append = name == "append"
        if name == "wide_vocab":
            self.gen = WideVocabGenerator(seed=seed, n_entities=size["wide_entities"])
        else:
            self.gen = TranscriptGenerator(seed=seed, n_entities=size["entities"])
        self.n_convs = size["convs"]
        # the corpus every measured operation reads
        self.data = env.path("inputs", "transcripts")
        self.base = env.path("inputs", "base")
        self.seed_store = env.path("seed_store")
        self.reference: str | None = None  # checksum every op must reproduce
        self.kept: str | None = None  # first op's store, for final_check
        self.pr: tuple[float, float] | None = None
        self.n_ops = 0

    def _rebuild(self, data: str, work: str, run_id: str) -> dict:
        return KGPipeline(self.env.spark, data, work, run_id=run_id).run(resume=False)

    def make_inputs(self) -> None:
        if self.append:
            write_transcripts(self.gen, self.data, int(self.n_convs * APPEND_GROWTH))
            write_transcripts(self.gen, self.base, self.n_convs)
        else:
            write_transcripts(self.gen, self.data, self.n_convs)

    def setup(self) -> None:
        """Make the reference: a rebuild of the corpus the ops read (for
        append, the superset rebuild that every append result must equal).
        For append, a rebuild of the prefix corpus seeds the store each op
        copies; at these sizes a rebuild is mostly per-job overhead, so the
        two run side by side. These untimed rebuilds are also the warm-up:
        a cold JVM's first operation is about twice as slow as the next."""
        with ThreadPoolExecutor(1) as pool:
            ref = pool.submit(self._rebuild, self.data, self.env.path("reference"), "bench")
            if self.append:
                self._rebuild(self.base, self.seed_store, "base")
            self.reference = ref.result()["materialize"]["checksum"]
        shutil.rmtree(self.env.path("reference"))

    def op(self, tracer: Tracer | None = None, keep: bool = False) -> dict:
        self.n_ops += 1
        work = self.env.path("ops", f"op{self.n_ops}")
        if self.append:
            shutil.copytree(self.seed_store, work)
        t0 = time.time()
        pipe = KGPipeline(
            self.env.spark,
            self.data,
            work,
            run_id="incr" if self.append else "bench",
            mode="append" if self.append else "overwrite",
        )
        if tracer is not None:
            tracer.instrument(pipe)
        m = pipe.run(resume=False)
        wall = time.time() - t0
        res = {
            "wall": wall,
            "span": Span("op", self.name, t0, t0 + wall),
            "metrics": m,
            "triples": m["materialize"]["triples"],
            "store_mb": dir_mb(work),
            "work": work,
        }
        got = m["materialize"]["checksum"]
        res["ok"] = got == self.reference
        if not res["ok"]:
            what = "superset rebuild" if self.append else "reference rebuild"
            print(f"[perfbench] checksum {got} != {what} {self.reference}", file=sys.stderr)
        elif self.kept is None:
            self.kept, keep = work, True
        if not keep:
            shutil.rmtree(work)
        return res

    def final_check(self) -> bool:
        """Triple P/R of the first correct op's store (every correct op has
        the same checksum) against the sequential Oracle."""
        if self.kept is None:
            return False
        triples = TableStore(self.env.spark, self.kept).read("triples")
        self.pr = pipeline_pr(self.data, self.gen, triples)
        shutil.rmtree(self.kept)
        print(f"[perfbench] checksum {self.reference} P/R {self.pr}", file=sys.stderr)
        return min(self.pr) >= MIN_PR

    def end_to_end(self, results: list[dict]) -> dict:
        return {
            "wall_s": statistics.median(r["wall"] for r in results),
            "triples_per_s": statistics.median(r["triples"] / r["wall"] for r in results),
            "store_mb": statistics.median(r["store_mb"] for r in results),
            "triple_precision": self.pr[0] if self.pr else 0.0,
            "triple_recall": self.pr[1] if self.pr else 0.0,
        }

    def link_stats(self, work: str) -> dict:
        """LSH counters recomputed from the stored signatures with the link
        module's public functions (outside the timed operation)."""
        store = TableStore(self.env.spark, work)
        sig = store.read("link_sig")
        capped = drop_hot_buckets(sig)
        pairs = (
            capped.alias("a")
            .join(capped.alias("b"), "band_key")
            .filter(F.col("a.norm_key") < F.col("b.norm_key"))
            .select(F.col("a.norm_key").alias("src"), F.col("b.norm_key").alias("dst"))
            .distinct()
            .count()
        )
        verified = edges_from_sig(sig, lsh_keys(store.read("vocab"))).count()
        return {
            "link.lsh_candidate_pairs": pairs,
            "link.lsh_dropped_buckets": lsh_dropped_buckets(sig).count(),
            "link.verified_ratio": verified / pairs if pairs else 0.0,
        }

    def traced(self, tracer: Tracer) -> tuple[dict, dict]:
        res = self.op(tracer, keep=True)
        with tracer.span("probe", "link_stats"):
            stats = self.link_stats(res["work"])
        shutil.rmtree(res["work"])
        m = res["metrics"]
        stats.update(
            {f"{st}.rows_out": m[k][field] for st, (k, field) in ROWS_OUT.items()}
        )
        return res, stats


class HeadlineWorkload:
    """``headline_queries``: one operation is one pass over the 11 bench.py
    headline queries, each built and written to the noop sink inside its
    timed region (bench.py's method)."""

    name = "headline_queries"

    def __init__(self, seed: int, size: dict, env: Env) -> None:
        self.env, self.seed = env, seed
        self.scale = size["tables"]
        self.tables = env.path("inputs", "tables")
        self.results = env.path("reference_results")
        self.expected: dict = {}  # (rows, hash) of each reference result
        self.pr: tuple[float, float] | None = None

    def make_inputs(self) -> None:
        write_tables(self.tables, self.seed, self.scale)

    def setup(self) -> None:
        """The reference pass, which stores every result for the DuckDB
        check; it runs the same 11 queries untimed, so it is also the
        warm-up."""
        self.expected = self._pass(save=True)["seen"]

    def _pass(self, tracer: Tracer | None = None, save: bool = False) -> dict:
        queries = entry.queries()
        seen = {}
        t_pass = time.time()
        for name in HEADLINE:
            t0 = time.time()
            df = queries[name](self.env.spark, self.tables)
            # row count + order-insensitive row hash ride the timed job
            obs = Observation()
            w = df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
            ).write.mode("overwrite")
            if save:
                w.parquet(os.path.join(self.results, name))
            else:
                w.format("noop").save()
            if tracer is not None:
                tracer.spans.append(Span("query", name, t0, time.time()))
            got = obs.get
            seen[name] = (int(got["n"]), str(got["h"]))
        wall = time.time() - t_pass
        return {"wall": wall, "span": Span("op", self.name, t_pass, t_pass + wall), "seen": seen}

    def op(self, tracer: Tracer | None = None) -> dict:
        res = self._pass(tracer)
        res["ok"] = self.verify(res)
        return res

    def verify(self, res: dict) -> bool:
        """Row count and row hash equal to the (DuckDB-checked) reference
        result of every query."""
        bad = [q for q in HEADLINE if res["seen"][q] != self.expected[q]]
        if bad:
            print(f"[perfbench] results differ from the reference pass: {bad}", file=sys.stderr)
        return not bad

    def final_check(self) -> bool:
        """Every reference result against its oracle_sql() twin in DuckDB."""
        con = duckdb.connect()
        try:
            for t in entry.TABLES:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            sql = entry.oracle_sql()
            ok = True
            for q in HEADLINE:
                got = pd.read_parquet(os.path.join(self.results, q))
                duck = con.execute(sql[q]).df()
                why = same_rows(got, duck)
                if why:
                    print(f"[perfbench] {q} != oracle: {why}", file=sys.stderr)
                    ok = False
                if q == "kg_flagship":
                    self.pr = triple_pr(got, duck)
        finally:
            con.close()
        return ok

    def end_to_end(self, results: list[dict]) -> dict:
        flag = "kg_flagship"
        return {
            "wall_s": statistics.median(r["wall"] for r in results),
            # the pass's triples are kg_flagship's (subj, pred, obj) rows
            "triples_per_s": statistics.median(r["seen"][flag][0] / r["wall"] for r in results),
            # the reference pass's results, as the queries wrote them
            "store_mb": dir_mb(self.results),
            "triple_precision": self.pr[0] if self.pr else 0.0,
            "triple_recall": self.pr[1] if self.pr else 0.0,
        }

    def traced(self, tracer: Tracer) -> tuple[dict, dict]:
        return self.op(tracer), {}


# ------------------------------------------------------------------- report


def layer_metrics(
    env: Env, tracer: Tracer, log: EventLog, res: dict, extra: dict, untraced_wall: float
) -> dict:
    out = {name: 0 for name in per_layer_units()}
    op: Span = res["span"]

    def put(prefix: str, span: Span | None, with_work: bool = True) -> None:
        if span is None:
            return
        out[f"{prefix}.wall_s"] = span.wall
        w = log.work(span)
        out[f"{prefix}.spark_jobs"] = w.jobs
        if with_work:
            out[f"{prefix}.spark_tasks"] = w.tasks
            out[f"{prefix}.executor_s"] = w.executor_s
            out[f"{prefix}.core_util"] = w.executor_s / (span.wall * env.cores)
            out[f"{prefix}.shuffle_write_mb"] = w.shuffle_write_mb
            out[f"{prefix}.spill_mb"] = w.spill_mb
            out[f"{prefix}.gc_s"] = w.gc_s

    stages = {s.name: s for s in tracer.of("stage")}
    for st in STAGE_METHODS:
        put(st, stages.get(st))
    queries = {s.name: s for s in tracer.of("query")}
    for q in HEADLINE:
        put(f"q.{q}", queries.get(q), with_work=False)
    for s in tracer.of("table.write"):
        key = f"tables.{s.name}.write_s"
        if key not in out:
            raise KeyError(f"table {s.name!r} is missing from TABLES")
        out[key] += s.wall
    writes, promotes = tracer.of("table.write"), tracer.of("table.promote")
    out["tables.writes"] = len(writes)
    out["tables.promotes"] = len(promotes)
    out["tables.promote_s"] = sum(s.wall for s in promotes)
    put("op", op)
    out["op.spark_stages"] = log.work(op).stages
    out["op.unattributed_jobs"] = log.unattributed_jobs(op, list(stages.values()) + list(queries.values()))
    out["trace_overhead"] = op.wall / untraced_wall - 1
    out.update(extra)
    return out


def run(args: argparse.Namespace) -> dict:
    size = SIZES[args.size]
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
            "TMPDIR": os.path.join(scratch, "tmp"),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
        }
    )
    env = Env(scratch, cores)
    if args.workload == "headline_queries":
        wl = HeadlineWorkload(args.seed, size, env)
    else:
        wl = PipelineWorkload(args.workload, args.seed, size, env)
    attempted = failed = 0
    t_run = time.time()

    def note(what: str) -> None:
        print(f"[perfbench] {time.time() - t_run:6.1f} s: {what}", file=sys.stderr)

    try:
        # the inputs are the benchmark's own work: made before the set-up
        # clock starts, in a child process, so that neither setup_s nor the
        # driver's peak RSS carries them
        in_child(wl.make_inputs)
        note("inputs made")
        t_start = time.time()
        env.start()
        note("session started")
        wl.setup()
        setup_s = time.time() - t_start
        note("reference made")
        results: list[dict] = []
        measured = 0.0  # timed operation walls; checks and store copies excluded
        while measured < args.seconds:  # closed loop: one op at a time
            attempted += 1
            t0 = time.time()
            try:
                res = wl.op()
            except Exception:
                traceback.print_exc()
                failed += 1
                measured += time.time() - t0
            else:
                results.append(res)
                failed += not res["ok"]
                measured += res["wall"]
                print(f"[perfbench] op {attempted}: {res['wall']:.3f} s", file=sys.stderr)
        if not results:
            raise RuntimeError("every operation failed")
        peak_rss = env.peak_rss_mb()
        if not wl.final_check():  # every op reproduced the failing output
            failed = attempted
        note("checked")
        e2e = wl.end_to_end(results)
        e2e.update({"setup_s": setup_s, "peak_rss_mb": peak_rss})
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        if args.trace:
            # restart the session (same JVM, still warm) with the event log
            # on; the new context's Python workers start cold, so one
            # untimed operation runs before the traced one
            env.stop()
            env.start(event_log=True)
            attempted += 1
            failed += not wl.op()["ok"]
            note("warmed up")
            tracer = Tracer()
            attempted += 1
            res, extra = wl.traced(tracer)
            failed += not res["ok"]
            env.stop()
            log = EventLog.read(env.event_log)
            layers = layer_metrics(env, tracer, log, res, extra, e2e["wall_s"])
            units = per_layer_units()
            metrics = {k: (layers[k], u) for k, u in units.items()}
    finally:
        env.close()
        shutil.rmtree(scratch, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


WORKLOADS = ["append", "headline_queries", "rebuild", "wide_vocab"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full", help="tiny: smoke-test inputs")
    result = run(ap.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
