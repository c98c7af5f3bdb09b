"""One benchmark workload in a fresh process: set up, warm up, time, check.

``run.py`` starts this script with the environment pinned and reads the
JSON file it writes.  By hand, from the repository root::

    python3 perfbench/workload.py --workload dense_uniform --seed 1 \
        --seconds 15 --work <empty dir> --out <result.json> [--extras]

Load is a closed loop: one call at a time, in whole passes over the
workload's calls.  ``--seconds`` sets the number of passes from the
workload's nominal pass time (at least two), so that every run of a
workload makes the same calls and the timed phase lasts about that long.
``--extras`` adds the calls only the traced run makes (PageRank at 10
and at 1 superstep, PageRank with a ``CheckpointManager``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import procfs

SHUFFLE_PARTITIONS = 8
SETUP_REPEATS = 3  # fixture builds per run; setup_s takes their median
EXTRA_REPEATS = 2
MIN_PASSES = 2
PID = os.getpid()


def du_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Recorder:
    """Spans, job counts and failures, kept in memory until the run ends.

    Every span runs under its own Spark job group, so the event log of a
    traced run can be folded back onto the same spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def span(self, name: str, group: str, fn: Callable[[], Any], parent: str | None = None):
        """Run ``fn`` under job group ``group`` and record its span.

        A top-level span also records CPU (JIT compiler threads apart)
        and its job count; both are read outside its timer.  A sub-span
        runs inside its parent's timer, so it records times only."""
        top = parent is None
        if top:
            self.sc.setJobGroup(group, name)
            cpu0, jit0 = procfs.tree_cpu_s(PID), procfs.jit_cpu_s(PID)
        e0, t0 = time.time(), time.perf_counter()
        try:
            return fn()
        finally:
            rec = {"name": name, "group": group, "parent": parent, "start": e0,
                   "seconds": time.perf_counter() - t0, "end": time.time()}
            if top:
                # JIT compilation still running in the background after the
                # warm-up is start-up work whose amount depends on CPU
                # contention from outside the machine: kept apart from cpu_s
                rec["jit_cpu_s"] = procfs.jit_cpu_s(PID) - jit0
                rec["cpu_s"] = procfs.tree_cpu_s(PID) - cpu0 - rec["jit_cpu_s"]
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(rec)

    def fail(self, what: str, problem: str) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {problem}")
        print(f"FAIL {what}: {problem}", file=sys.stderr, flush=True)

    def attempt(self, call: "Call", group: str) -> Any:
        """One checked call: a raised error or a failed check counts once."""
        self.attempted += 1
        try:
            out = self.span(call.name, group, lambda: call.run(self.sub(call.name, group)))
        except Exception:  # a failed call is counted; the run goes on
            self.fail(group, traceback.format_exc(limit=3))
            return None
        try:
            problems = call.check(out)
        except Exception:  # an output the check cannot read is a wrong output
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.fail(group, "; ".join(problems)[:2000])
        return out

    def sub(self, parent: str, group: str) -> Callable[[str, Callable[[], Any]], Any]:
        """Sub-span recorder handed to a call (its stages share its group)."""
        return lambda name, fn: self.span(name, group, fn, parent=parent)

    def seconds(self, name: str, prefix: str) -> list[float]:
        return [s["seconds"] for s in self.spans
                if s["name"] == name and s["group"].startswith(prefix)]


@dataclass
class Call:
    name: str
    run: Callable[[Callable], Any]
    check: Callable[[Any], list[str]]


# ---------------------------------------------------------------------------
# dense_uniform
# ---------------------------------------------------------------------------
class DenseUniform:
    """The derived edge table (src, dst) = (l_orderkey % 1024,
    l_partkey % 1024) over a seeded lineitem-shaped parquet file: ~1k
    nodes, so every superstep's state is ~1k rows and the fixed
    per-query driver cost dominates."""

    ROWS = 60_000
    PASS_S = 10.5  # nominal seconds of one timed pass on a 4-vCPU VM
    ORACLES = {
        "algorithms.pagerank": "pagerank_10",
        "algorithms.cc": "cc_components",
        "algorithms.lpa": "lpa_5",
        "algorithms.triangles": "triangle_counts",
    }

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.input_dir = os.path.join(work, "input")
        rng = np.random.default_rng(seed)
        os.makedirs(self.input_dir)
        pq.write_table(
            pa.table({
                "l_orderkey": rng.integers(0, 1 << 31, self.ROWS, dtype=np.int64),
                "l_partkey": rng.integers(0, 1 << 31, self.ROWS, dtype=np.int64),
            }),
            os.path.join(self.input_dir, "lineitem.parquet"),
        )

    def build(self, rec: Recorder, k: int) -> None:
        from dachshund_spark.derived import derived_graph

        rec.span("derived.load", f"setup/{k}/derived.load",
                 lambda: derived_graph(self.spark, self.input_dir).edges.count())

    def graph(self):
        from dachshund_spark.derived import derived_graph

        return derived_graph(self.spark, self.input_dir)

    def reference(self) -> dict:
        import duckdb

        import __spark_entry__
        from tools.check_oracles import compare

        self.compare = compare
        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                    f"'{self.input_dir}/lineitem.parquet')")
        self.oracle = {name: con.execute(sql[q]).df() for name, q in self.ORACLES.items()}
        e = con.execute(
            "SELECT DISTINCT l_orderkey % 1024 AS src, l_partkey % 1024 AS dst "
            "FROM lineitem WHERE l_orderkey % 1024 <> l_partkey % 1024").df()
        con.close()
        self.n_edges = len(e)
        self.n_nodes = len(self.oracle["algorithms.triangles"])
        return {
            "rows": self.ROWS,
            "nodes": self.n_nodes,
            "edges": self.n_edges,
            "max_in_degree": int(e.groupby("dst").size().max()),
        }

    def _pagerank(self, iterations: int, manager=None):
        from pyspark.sql import functions as F

        from dachshund_spark.algorithms import pagerank

        pr = pagerank(self.graph(), damping=0.85, fixed_iterations=iterations,
                      manager=manager)
        return pr.select("node_id", F.round("pagerank", 8).alias("pagerank")).toPandas()

    def _oracle_check(self, name: str) -> Callable[[Any], list[str]]:
        return lambda out: self.compare(name, out, self.oracle[name])

    def calls(self) -> list[Call]:
        from dachshund_spark.algorithms import (
            connected_components, label_propagation, triangle_counts)

        runs = {
            "algorithms.pagerank": lambda stage: self._pagerank(10),
            "algorithms.cc": lambda stage: connected_components(
                self.graph(), renumber=True).toPandas(),
            "algorithms.lpa": lambda stage: label_propagation(
                self.graph(), iterations=5).toPandas(),
            "algorithms.triangles": lambda stage: triangle_counts(self.graph()).toPandas(),
        }
        return [Call(n, r, self._oracle_check(n)) for n, r in runs.items()]

    def extras(self, rec: Recorder) -> dict:
        """PageRank at 10 and at 1 superstep, and PageRank-10 with durable
        snapshots, interleaved so that all three see the same JIT state."""
        from dachshund_spark.checkpoint import CheckpointManager

        def one_step_check(out) -> list[str]:
            bad = []
            if len(out) != self.n_nodes:
                bad.append(f"rows {len(out)} != nodes {self.n_nodes}")
            if abs(out["pagerank"].sum() - 1.0) > 1e-5:
                bad.append(f"rank sum {out['pagerank'].sum()!r} != 1")
            return bad

        roots = [os.path.join(self.work, f"ckpt{i}") for i in range(EXTRA_REPEATS)]

        def with_manager(i):
            # a fresh root each time: with an old snapshot, resume=True
            # would skip the work
            return self._pagerank(10, manager=CheckpointManager(self.spark, roots[i]))

        pr10_check = self._oracle_check("algorithms.pagerank")
        for i in range(EXTRA_REPEATS):
            for call in (
                Call("iterate.pagerank_10", lambda stage: self._pagerank(10), pr10_check),
                Call("iterate.pagerank_1", lambda stage: self._pagerank(1), one_step_check),
                Call("checkpoint.pagerank_10", lambda stage, i=i: with_manager(i), pr10_check),
            ):
                self.spark.catalog.clearCache()
                rec.attempt(call, f"extra/{i}/{call.name}")
        t10 = median(rec.seconds("iterate.pagerank_10", "extra/"))
        t1 = median(rec.seconds("iterate.pagerank_1", "extra/"))
        t10_ckpt = median(rec.seconds("checkpoint.pagerank_10", "extra/"))
        superstep = (t10 - t1) / 9
        commits = median([len(CheckpointManager(self.spark, r).history()) for r in roots])
        return {
            "iterate.fixed_s": t1 - superstep,
            "iterate.superstep_s": superstep,
            "checkpoint.commit_s": (t10_ckpt - t10) / commits if commits else 0.0,
            "checkpoint.commits": commits,
            "checkpoint.bytes": median([du_bytes(r) for r in roots]),
        }

    def layers(self, rec: Recorder) -> dict:
        t10 = median(rec.seconds("algorithms.pagerank", "timed/"))
        out = {f"{n}_s": median(rec.seconds(n, "timed/")) for n in self.ORACLES}
        out["derived.load_s"] = median(rec.seconds("derived.load", "setup/"))
        out["pagerank_edges_per_s"] = 10 * self.n_edges / t10 if t10 else 0.0
        return out


# ---------------------------------------------------------------------------
# crawl_ingest
# ---------------------------------------------------------------------------
class CrawlIngest:
    """gzip WARC files written in setup from ``generate_pages`` over a
    seeded power-law graph; the timed pass is read_warc -> pages_to_edges
    -> parquet write of the edge table -> host_edges.  It crosses the
    Arrow/pandas-UDF boundary twice and bypasses iterate/algorithms."""

    NODES = 20_000
    EDGES = 60_000
    PASS_S = 2.5
    WARC_FILES = 8

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.last_output: dict = {}

    def build(self, rec: Recorder, k: int) -> None:
        from dachshund_spark.graph import LinkGraph
        from dachshund_spark.pages.generator import generate_pages
        from dachshund_spark.pages.warc import pages_to_warc_files

        base = os.path.join(self.work, f"fixture{k}")
        graph_dir, warc_dir = os.path.join(base, "graph"), os.path.join(base, "warc")
        rec.span("graph.powerlaw", f"setup/{k}/graph.powerlaw",
                 lambda: LinkGraph.powerlaw_graph(
                     self.spark, self.NODES, self.EDGES, seed=self.seed
                 ).edges.write.parquet(graph_dir))

        def generate():
            graph = LinkGraph(self.spark.read.parquet(graph_dir))
            files = pages_to_warc_files(generate_pages(graph, seed=self.seed),
                                        num_files=self.WARC_FILES).collect()
            os.makedirs(warc_dir)
            for row in files:
                with open(os.path.join(warc_dir, f"part-{row['bucket']:05d}.warc.gz"), "wb") as fh:
                    fh.write(row["content"])

        rec.span("pages.generate", f"setup/{k}/pages.generate", generate)
        if k > 0:  # keep only the newest fixture
            shutil.rmtree(os.path.join(self.work, f"fixture{k - 1}"))
        self.graph_dir, self.warc_dir = graph_dir, warc_dir

    def reference(self) -> dict:
        e = pq.read_table(self.graph_dir).to_pandas()
        e = e.drop_duplicates(ignore_index=True)
        self.n_nodes = int(pd.unique(np.concatenate([e["src"], e["dst"]])).size)
        self.n_edges = len(e)
        self.edge_sum = _pair_checksum(e["src"].to_numpy(), e["dst"].to_numpy())
        return {
            "nodes": self.n_nodes,
            "edges": self.n_edges,
            "max_in_degree": int(e.groupby("dst").size().max()),
            "pages": self.n_nodes,
            "warc_bytes": du_bytes(self.warc_dir),
            "warc_files": len(os.listdir(self.warc_dir)),
        }

    def _ingest(self, stage) -> dict:
        from dachshund_spark.pages.extract import host_edges, pages_to_edges
        from dachshund_spark.pages.warc import read_warc

        out_dir = os.path.join(self.work, "edges")
        shutil.rmtree(out_dir, ignore_errors=True)
        pages = read_warc(self.spark, self.warc_dir).persist()
        records = stage("pages.read_warc", pages.count)
        edges, nodes = pages_to_edges(pages)
        edges = edges.persist()
        links = stage("pages.pages_to_edges", edges.count)
        stage("pages.edge_write", lambda: edges.write.parquet(out_dir))
        hosts = stage("pages.host_edges", lambda: host_edges(
            self.spark.read.parquet(out_dir), nodes).toPandas())
        edges.unpersist()
        pages.unpersist()
        return {"records": records, "links": links, "hosts": hosts, "out_dir": out_dir}

    def _check(self, out: dict) -> list[str]:
        out["written_rows"] = _parquet_rows(out["out_dir"])
        out["written_bytes"] = du_bytes(out["out_dir"])
        self.last_output = out
        bad = []
        if out["records"] != self.n_nodes:
            bad.append(f"records {out['records']} != nodes {self.n_nodes}")
        if out["links"] != self.n_edges or out["written_rows"] != self.n_edges:
            bad.append(f"links {out['links']} / written {out['written_rows']} "
                       f"!= edges {self.n_edges}")
        h = out["hosts"]
        src = h["src_host"].str.extract(r"^node(\d+)\.")[0].astype("int64").to_numpy()
        dst = h["dst_host"].str.extract(r"^node(\d+)\.")[0].astype("int64").to_numpy()
        if len(h) != self.n_edges or (h["n_links"] != 1).any():
            bad.append(f"host edges {len(h)} rows, n_links != 1 on {(h['n_links'] != 1).sum()}")
        elif _pair_checksum(src, dst) != self.edge_sum:
            bad.append("host edge checksum differs from the source graph's edges")
        return bad

    def calls(self) -> list[Call]:
        return [Call("pages.ingest", self._ingest, self._check)]

    def extras(self, rec: Recorder) -> dict:
        return {}

    def layers(self, rec: Recorder) -> dict:
        ingest = median(rec.seconds("pages.ingest", "timed/"))
        last = self.last_output
        out = {f"{n}_s": median(rec.seconds(n, "timed/")) for n in (
            "pages.read_warc", "pages.pages_to_edges", "pages.edge_write", "pages.host_edges")}
        out.update({
            "graph.powerlaw_s": median(rec.seconds("graph.powerlaw", "setup/")),
            "pages.generate_s": median(rec.seconds("pages.generate", "setup/")),
            "pages.edge_write_bytes": last.get("written_bytes", 0),
            "pages.records": last.get("records", 0),
            "pages.links": last.get("links", 0),
            "pages_per_s": last.get("records", 0) / ingest if ingest else 0.0,
        })
        return out


def _parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _pair_checksum(src: np.ndarray, dst: np.ndarray) -> int:
    """Order-independent checksum of a set of (src, dst) pairs."""
    x = (src.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ dst.astype(np.uint64)
    x ^= x >> np.uint64(31)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(29)
    return int(np.bitwise_xor.reduce(x)) ^ (int(x.sum(dtype=np.uint64)) << 1)


WORKLOADS = {"dense_uniform": DenseUniform, "crawl_ingest": CrawlIngest}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True, help="empty scratch directory")
    ap.add_argument("--out", required=True, help="result JSON file")
    ap.add_argument("--extras", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from dachshund_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    start_s = time.perf_counter() - t0
    rec = Recorder(spark)
    w = WORKLOADS[args.workload](spark, args.work, args.seed)

    builds = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        w.build(rec, k)
        builds.append(time.perf_counter() - t)
    inputs = w.reference()
    calls = w.calls()
    for call in calls:
        spark.catalog.clearCache()
        rec.attempt(call, f"warmup/{call.name}")
    warm_s = sum(s["seconds"] for s in rec.spans if s["group"].startswith("warmup/"))

    # a fixed number of passes, not a deadline: a run that fits one more
    # pass in would time warmer calls, and its medians would read lower
    passes = max(MIN_PASSES, round(args.seconds / w.PASS_S))
    t_loop, i = time.perf_counter(), 0
    for _ in range(passes):
        for call in calls:
            spark.catalog.clearCache()
            rec.attempt(call, f"timed/{i}/{call.name}")
            i += 1
    loop_s = time.perf_counter() - t_loop
    peak_rss_mb = procfs.tree_peak_rss_mb(PID)

    def per_pass(key: str) -> float:
        """Sum over the calls of one pass of each call's median ``key``."""
        return sum(median([s[key] for s in rec.spans if s["name"] == c.name
                           and s["group"].startswith("timed/")]) for c in calls)

    layers = {"session.start_s": start_s, **w.layers(rec)}
    if args.extras:
        layers.update(w.extras(rec))
    sc = spark.sparkContext
    env = {
        "master": sc.master,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", 0)),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
    }
    spark.stop()
    result = {
        "attempted": rec.attempted,
        "failed": rec.failed,
        "problems": rec.problems,
        "e2e": {
            "setup_s": start_s + median(builds) + warm_s,
            "run_s": per_pass("seconds"),
            "cpu_s": per_pass("cpu_s"),
            "peak_rss_mb": peak_rss_mb,
        },
        "layers": layers,
        "jobs_per_pass": per_pass("jobs"),
        "timed_calls": i,
        "passes": passes,
        "jit_cpu_per_pass_s": per_pass("jit_cpu_s"),
        "timed_loop_s": loop_s,
        "setup_parts": {"session_start_s": start_s, "fixture_builds_s": builds,
                        "warmup_s": warm_s},
        "inputs": inputs,
        "env": env,
        "calls": [c.name for c in calls],
        "spans": rec.spans,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
