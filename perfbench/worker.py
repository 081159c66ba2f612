"""One benchmark run in its own process: one JVM at local[cores], one
client, closed loop (the next operation starts when the previous one
has finished and been checked).

Started by ``run.py``, which owns the environment, the memory sampler
and the time limit; this module prepares inputs, builds the session,
runs the cold operation and then warm operations for ``--seconds``,
checks every output and writes a result file.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Iterator, Optional

from perfbench import checks, inputs, procfs
from perfbench.trace import (
    SpanTree,
    StampedTimings,
    Tracer,
    attribute_jobs,
    op_layer_metrics,
    read_event_log,
)

HERE = Path(__file__).resolve().parent
SETUPS = 3  # build_session calls per run; setup_s is their median
OP_LIMIT_S = 90.0  # an operation slower than this counts as timed out
AUTHOR_F1_MIN = 0.9
TRIPLE_COLS = ("subj", "pred", "obj", "src_url")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def partitions() -> int:
    """Shuffle partitions and run_snapshot parts: two per task slot."""
    return 2 * cores()


@contextmanager
def _no_span(name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
    yield {"attrs": dict(attrs)}


def fingerprint(df, cols) -> list:
    """Order-independent (row count, sum of xxhash64 over ``cols``)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return [int(row.n), str(int(row.h))]


def text_parity(parsed, pages) -> dict[str, list[int]]:
    """Feed type -> [hits, eligible].  Oracle pages are those with a
    non-empty ``pages.text``; a hit is ``entries[0].content[0].value``
    equal to it."""
    from pyspark.sql import functions as F

    got = parsed.select(
        "url", "feed_type",
        F.get(F.get("entries", 0)["content"], 0)["value"].alias("value"),
    )
    oracle = pages.where(F.col("text").isNotNull() & (F.col("text") != "")).select("url", "text")
    rows = (
        oracle.join(got, "url", "left")
        .groupBy(F.coalesce("feed_type", F.lit("none")).alias("feed_type"))
        .agg(
            F.count(F.when(F.col("value") == F.col("text"), 1)).alias("hits"),
            F.count(F.lit(1)).alias("eligible"),
        )
        .collect()
    )
    return {r.feed_type: [int(r.hits), int(r.eligible)] for r in rows}


class BulkParse:
    """read PAGES -> udfs.parse_pages -> triples.emit_triples over a large
    corpus; the parse is cached once and the triples consume it, as
    run_snapshot does."""

    def __init__(self, work: Path, seed: int) -> None:
        self.pages_dir = inputs.bulk_corpus(work / "cache", seed)
        self._parity: dict[str, list[int]] = {}

    def op(self, spark, tracer: Optional[Tracer]) -> dict[str, Any]:
        from pyspark.sql import functions as F

        from ffp_spark.triples import emit_triples
        from ffp_spark.udfs import parse_pages

        span = tracer.span if tracer and tracer.active else _no_span
        pages = spark.read.parquet(str(self.pages_dir))
        t0 = time.perf_counter()
        with span("op") as op:
            with span("udfs.parse"):
                parsed = parse_pages(pages).cache()
                counts = parsed.agg(
                    F.count(F.lit(1)).alias("pages"), F.count("error").alias("errors")
                ).collect()[0]
            with span("triples"):
                triples = fingerprint(emit_triples(parsed), TRIPLE_COLS)
        wall = time.perf_counter() - t0
        try:
            if not self._parity:  # untimed, on the first op's output
                self._parity = text_parity(parsed, pages)
        finally:
            parsed.unpersist()
        op["attrs"].update(error_rows=counts.errors, triples=triples[0])
        return {
            "wall": wall,
            "pages": counts.pages,
            "triples": triples[0],
            "fingerprint": {"pages": counts.pages, "errors": counts.errors, "triples": triples},
        }

    def parity(self, spark) -> dict[str, list[int]]:
        return self._parity


class DeltaRefresh:
    """An incremental run_snapshot of a small delta on top of a committed
    parent, then analyze_snapshot's serving reports on the new snapshot.
    Every operation starts from a fresh copy of the same parent."""

    def __init__(self, work: Path, seed: int) -> None:
        self.parent = parent_dir(work)
        if not (self.parent / "DONE").exists():
            raise FileNotFoundError(f"parent snapshot missing: {self.parent}")
        self.delta_dir = inputs.delta_corpus(work / "cache", seed)
        self.root = work / "runs" / f"kg-{os.getpid()}"

    def op(self, spark, tracer: Optional[Tracer]) -> dict[str, Any]:
        import ffp_spark.graph as graph
        import ffp_spark.pipeline as pipeline
        from ffp_spark.snapshots import read_manifest

        traced = tracer is not None and tracer.active
        span = tracer.span if traced else _no_span
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.parent / "kg", self.root)
        pages = spark.read.parquet(str(self.delta_dir))
        t0 = time.perf_counter()
        try:
            with span("op") as op:
                with span("pipeline"):
                    timings = StampedTimings() if traced else None
                    res = pipeline.run_snapshot(
                        spark, pages, str(self.root), 2, n_parts=partitions(),
                        incremental_from=1, stage_timings=timings,
                    )
                    if timings is not None:
                        # the parse bracket opens as run_snapshot starts work
                        end, cpu1 = timings.stamps["parse_sec"]
                        tracer.add_bracket(
                            "udfs.parse", end - timings["parse_sec"], end,
                            tracer.current()["cpu0"], cpu1,
                        )
                t1 = time.perf_counter()
                reports = {k: v.collect() for k, v in graph.analyze_snapshot(spark, str(self.root), 2).items()}
            wall = time.perf_counter() - t0
            new_triples = res["triples"] - read_manifest(self.root, "triples", 1)["row_count"]
            op["attrs"].update(
                error_rows=sum(res["errors"].values()), triples=new_triples, **self._written()
            )
            fp = self._fingerprint(spark, res["pages"], reports)
            f1 = self._author_f1(spark)
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
        error = "" if f1 is not None and f1 >= AUTHOR_F1_MIN else f"author_f1 {f1} < {AUTHOR_F1_MIN}"
        return {
            "wall": wall, "commit_s": t1 - t0, "analytics_s": wall - (t1 - t0),
            # the commit rewrites the parent's triples beside the delta's
            "pages": res["pages"], "triples": res["triples"], "fingerprint": fp,
            "author_f1": f1, "error": error,
        }

    def _written(self) -> dict[str, int]:
        files = [p for p in self.root.glob("*/snap-2/**/*.parquet") if p.is_file()]
        return {"files_written": len(files), "bytes_written": sum(p.stat().st_size for p in files)}

    def _fingerprint(self, spark, pages: int, reports: dict[str, list]) -> dict[str, Any]:
        from ffp_spark.snapshots import read_snapshot

        def table(name: str):
            return read_snapshot(spark, str(self.root), name, 2)

        digest = json.dumps(
            [
                sorted(tuple(r) for r in reports["degree_histogram"]),
                [(r["node"], r["pr_q"]) for r in reports["top_pagerank"]],
                [tuple(r) for r in reports["triangles"]],
            ],
            default=str,
        )
        cols = {
            "triples": TRIPLE_COLS,
            # node labels are left out: dropDuplicates(["node_id"]) keeps
            # an arbitrary row's label when a feed node has many pages
            "nodes": ("node_id", "kind", "canonical_id"),
            "edges": ("src", "dst", "pred"),
        }
        # the three small jobs run at once: checking is untimed but
        # every run pays for it
        with ThreadPoolExecutor(len(cols)) as pool:
            futures = {name: pool.submit(fingerprint, table(name), c) for name, c in cols.items()}
            tables = {name: f.result() for name, f in futures.items()}
        return {"pages": pages, **tables, "reports": hashlib.sha256(digest.encode()).hexdigest()[:16]}

    def _author_f1(self, spark) -> Optional[float]:
        """Committed canonicalisation of the delta's own author mentions."""
        from pyspark.sql import functions as F

        from ffp_spark.datagen import author_cluster_oracle
        from ffp_spark.schemas import PRED_AUTHOR
        from ffp_spark.snapshots import read_snapshot

        triples = read_snapshot(spark, str(self.root), "triples", 2).where(
            (F.col("pred") == PRED_AUTHOR) & (F.col("snapshot_id") == 2)
        ).select(F.col("subj").alias("entry"), F.col("obj").alias("surface"))
        edges = read_snapshot(spark, str(self.root), "edges", 2).where(
            F.col("pred") == PRED_AUTHOR
        ).select(F.col("src").alias("entry"), F.col("dst").alias("canonical"))
        pairs = triples.join(edges, "entry").select("surface", "canonical").distinct().collect()
        return checks.author_f1([(r.surface, r.canonical) for r in pairs], author_cluster_oracle())

    def parity(self, spark) -> dict[str, list[int]]:
        """Over every page the new snapshot holds: the parent's, counted
        when the parent was committed, plus the delta's."""
        from ffp_spark.udfs import parse_pages

        pages = spark.read.parquet(str(self.delta_dir))
        out = json.loads((self.parent / "parity.json").read_text())
        for feed_type, (hits, eligible) in text_parity(parse_pages(pages), pages).items():
            prior = out.setdefault(feed_type, [0, 0])
            out[feed_type] = [prior[0] + hits, prior[1] + eligible]
        return out


WORKLOADS = {"bulk_parse": BulkParse, "delta_refresh": DeltaRefresh}


def parent_dir(work: Path) -> Path:
    return work / "cache" / f"parent-kg-{inputs.VERSION}-n{inputs.PARENT_PAGES}-p{partitions()}"


def build_session(tracer: Optional[Tracer] = None):
    from ffp_spark import pipeline

    span = tracer.span if tracer else _no_span
    with span("setup"):
        return pipeline.build_session(
            "perfbench", f"local[{cores()}]", shuffle_partitions=partitions()
        )


def build_parent(work: Path) -> None:
    """Commit the delta workload's parent snapshot once per checkout."""
    from ffp_spark import pipeline
    from ffp_spark.udfs import parse_pages

    dest = parent_dir(work)
    if (dest / "DONE").exists():
        return
    shutil.rmtree(dest, ignore_errors=True)
    pages_dir = inputs.parent_corpus(work / "cache")
    spark = build_session()
    try:
        pages = spark.read.parquet(str(pages_dir))
        pipeline.run_snapshot(spark, pages, str(dest / "kg"), 1, n_parts=partitions())
        parity = text_parity(parse_pages(pages), pages)
    finally:
        spark.stop()
    (dest / "parity.json").write_text(json.dumps(parity))
    (dest / "DONE").write_text("ok\n")


def expected_fingerprint(workload: str, seed: int) -> Optional[dict]:
    recorded = json.loads((HERE / "expected.json").read_text())
    return recorded.get(workload, {}).get(str(seed))


def run(args: argparse.Namespace, work: Path) -> dict[str, Any]:
    began = time.monotonic()
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = round(time.monotonic() - began, 2)

    workload = WORKLOADS[args.workload](work, args.seed)  # inputs: untimed
    mark("inputs")
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()

    setup_s = []

    def build():
        t = time.perf_counter()
        session = build_session(tracer)
        setup_s.append(time.perf_counter() - t)
        return session

    spark = build()
    mark("setup")

    ledger = checks.Ledger(
        expected=expected_fingerprint(args.workload, args.seed), limit_s=OP_LIMIT_S
    )
    ops: list[dict[str, Any]] = []

    def attempt(phase: str) -> None:
        cpu0 = procfs.tree_cpu_seconds(os.getpid())
        try:
            res = workload.op(spark, tracer)
        except Exception as exc:  # a failed operation is counted, not fatal
            traceback.print_exc()
            ledger.record(0.0, None, f"{type(exc).__name__}: {exc}")
            return
        # process-tree CPU per operation, kept in the run's details file
        res["cpu_s"] = procfs.tree_cpu_seconds(os.getpid()) - cpu0
        res["phase"] = phase
        res["ok"] = ledger.record(res["wall"], res["fingerprint"], res.pop("error", ""))
        ops.append(res)

    attempt("cold")
    mark("cold")
    # the remaining session builds follow the cold operation: the JVM
    # keeps compiling what that operation ran while they wait on it
    for _ in range(SETUPS - 1):
        spark.stop()
        spark = build()
    mark("rebuilds")
    # a traced run alternates untraced reference operations with traced
    # ones, for trace.overhead_frac; it needs at least one of each
    start, k = time.monotonic(), 0
    while k < (2 if tracer else 1) or time.monotonic() - start < args.seconds:
        phase = "reference" if tracer and k % 2 == 0 else "warm"
        if tracer:
            tracer.active = phase == "warm"
        attempt(phase)
        k += 1
    mark("warm")

    by_type = workload.parity(spark)
    parity = checks.parity_share(by_type)
    mark("parity")
    conf = spark.sparkContext.getConf()
    event_log = Path(conf.get("spark.eventLog.dir", "file:/").removeprefix("file:")) / conf.get("spark.app.id")
    spark.stop()
    mark("stopped")

    cold = [o for o in ops if o["phase"] == "cold"]
    warm = [o for o in ops if o["phase"] == "warm" and o["ok"]]
    correct = (
        ledger.failed == 0 and bool(cold) and bool(warm)
        and checks.parity_ok(by_type)
    )
    details: dict[str, Any] = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores(), "partitions": partitions(),
        "setup_s": setup_s, "phases": phases, "ops": ops, "reasons": ledger.reasons,
        "text_parity": by_type,
    }
    result = {"correct": correct, "attempted": ledger.attempted, "failed": ledger.failed}
    if not (cold and warm):
        return {**result, "metrics": {}, "details": details}

    def med(key: str) -> float:
        return statistics.median(o[key] for o in warm)

    if not tracer:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "first_run_s": (cold[0]["wall"], "s"),
            "op_s": (med("wall"), "s"),
            "pages_per_s": (statistics.median(o["pages"] / o["wall"] for o in warm), "1/s"),
            "triples_per_s": (statistics.median(o["triples"] / o["wall"] for o in warm), "1/s"),
            "ok_frac": (ledger.ok_frac, "share"),
            "text_parity": (parity or 0.0, "share"),
        }
        details["samples"] = {"setup_s": len(setup_s), "first_run_s": len(cold), "warm": len(warm)}
    else:
        metrics = traced_metrics(tracer, event_log, ops, work, args)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {**result, "details": details}


PER_LAYER_UNITS = {
    "udfs.parse_s": "s", "udfs.task_cpu_s": "s", "udfs.task_skew": "ratio",
    "udfs.error_rows": "count", "triples.s": "s", "triples.rows_out": "count",
    "linking.self_s": "s", "linking.surfaces": "count", "linking.band_rows": "count",
    "linking.candidate_edges": "count", "linking.edge_yield": "ratio",
    "linking.task_skew": "ratio", "linking.shuffle_mb": "MB", "linking.jobs": "count",
    "cc.s": "s", "cc.rounds": "count", "cc.jobs": "count", "cc.edges_in": "count",
    "cc.shuffle_mb": "MB", "snapshots.commit_s": "s", "snapshots.write_s_sum": "s",
    "snapshots.bytes_written": "bytes", "snapshots.files_written": "count",
    "pipeline.s": "s", "pipeline.self_s": "s", "pipeline.jobs": "count",
    "pipeline.warm_workers_s": "s", "pipeline.warm_collation_s": "s",
    "graph.analytics_s": "s", "graph.pagerank_s": "s", "graph.jobs": "count",
    "graph.shuffle_mb": "MB", "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.spill_mb": "MB", "spark.shuffle_write_mb": "MB",
    "trace.overhead_frac": "share",
}


def traced_metrics(tracer: Tracer, log: Path, ops: list[dict], work: Path,
                   args: argparse.Namespace) -> dict[str, tuple[float, str]]:
    """Median over the warm traced operations of each op's layer metrics."""
    from ffp_spark.linking import LSH_BANDS

    jobs, tasks = read_event_log(log)
    tree = SpanTree(tracer.spans, attribute_jobs(jobs, tracer.spans), tasks)
    op_spans = sorted((s for s in tracer.spans if s["name"] == "op"), key=lambda s: s["start"])
    # op spans exist for the cold op and every traced warm op
    per_op = [op_layer_metrics(tree, s, LSH_BANDS) for s in op_spans[1:]]
    values = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}

    setup = max((s for s in tracer.spans if s["name"] == "setup"), key=lambda s: s["start"])
    for name, key in (("pipeline.warm_workers", "pipeline.warm_workers_s"),
                      ("pipeline.warm_collation", "pipeline.warm_collation_s")):
        found = tree.find(setup, name)
        values[key] = found[0]["end"] - found[0]["start"] if found else 0.0
    reference = [o["wall"] for o in ops if o["phase"] == "reference"]
    traced = [o["wall"] for o in ops if o["phase"] == "warm"]
    values["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(reference) - 1.0
        if reference and traced else 0.0
    )

    out_dir = work / "traces"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-s{args.seed}-spans.json").write_text(
        json.dumps({"spans": tracer.spans, "per_op": per_op}, indent=1, default=str)
    )
    return {k: (float(values[k]), PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--work", type=Path, required=True)
    parser.add_argument("--build-parent", action="store_true")
    parser.add_argument("--workload", choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int)
    parser.add_argument("--seconds", type=float)
    parser.add_argument("--trace", type=int, choices=(0, 1))
    parser.add_argument("--out", type=Path)
    args = parser.parse_args()
    if args.build_parent:
        build_parent(args.work)
        return 0
    result = run(args, args.work)
    args.out.write_text(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
