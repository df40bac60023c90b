"""The Spark driver of one benchmark run; started by ``run.py``, which owns the
work directory, samples process-tree memory and prints the final result.

    python3 perfbench/driver.py --root R --workdir W --workload NAME \
        --seed N --seconds S --trace 0|1

Workloads (inputs are generated from the seed and written to parquet first):

* ``bulk_build``: one cold ``materialize.run_pipeline(check_digest=True)``
  of BULK_PAGES pages into an empty warehouse.  Every construction layer
  works: HTML, chunk and extraction UDFs, the folds, canonicalization and the
  warehouse appends.  Checked: the digest gate, the manifest counts implied
  by the generation, and the triples of a seeded page sample against
  ``kgspark.refimpl``.
* ``graph_query``: ``graph.graph_search`` (typed BFS), ``graph.components``
  and ``graph.pagerank`` over a Zipf hub graph.  No construction layer runs,
  so a construction change should not move it.  Checked exactly against the
  pure-Python references in ``refs.py``.

Session: one driver at ``local[cores]`` with ``cores`` shuffle partitions
(the library's 32-partition floor makes a small batch ~22 s of fixed cost,
~41 s cold, which one run cannot afford), and a fixed-size heap.

Untraced (``--trace 0``): set up (session, inputs, one warm-up op), then
repeat the op until ``--seconds`` have passed, checking every output; a
failed check or an op that raises counts as a failed op.  Traced
(``--trace 1``): the same set-up, one untraced op under job group ``batch``,
then one op split into layer spans (see ``layers.py``).  The last stdout
line is the result JSON.
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

import layers
import refs

# bulk_build: one cold batch of this many pages.  On a 4-vCPU VM (pyspark
# 4.1.2, local[4], 4 shuffle partitions) a warm 16k-page batch took 8-19 s
# depending on host load: a fixed part of about 150 jobs plus a part per page
# (UDFs, folds, writes) that this size keeps from being negligible.
BULK_PAGES = 16000
BULK_SAMPLE = 150  # pages re-derived by refimpl per op

# graph_query: Zipf-degree name graph (4 disjoint blocks) and the BFS query.
# One op (5-13 s on the same VM) is ~200 jobs, mostly driver-side scheduling.
GRAPH_NAMES, GRAPH_EDGES, GRAPH_BLOCKS = 5000, 50000, 4
BFS = dict(start_type="Symptom", target_type="Disease", max_depth=6, max_paths=5, max_starts=10)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class BulkBuild:
    """One cold ``run_pipeline(check_digest=True)`` into an empty warehouse."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        from kgspark import datagen, refimpl

        self.spark, self.work = spark, work
        src = os.path.join(work, "pages")
        datagen.web_pages_distributed(spark, BULK_PAGES, seed=seed, partitions=cores) \
            .write.parquet(src)
        self.pages = spark.read.parquet(src)
        self.input_bytes = _dir_bytes(src)
        rows = datagen.web_pages_rows(BULK_PAGES, seed)
        contents = [r[3].replace("\r", "").strip(" ") for r in rows]
        self.n_docs = len({c for c in contents if c})
        self.n_errors = sum(1 for r in rows if not r[3].strip())
        golden = refimpl.run([rows[i] for i in refs.sample_indices(seed, BULK_PAGES, BULK_SAMPLE)])
        self.sample_docs = sorted(golden.docs)
        self.sample_triples = golden.triples
        self.items = BULK_PAGES
        self.n_ops = 0

    def op(self, keep: bool = False):
        """Returns (wall seconds, list of failed checks)."""
        from pyspark.sql import functions as F

        from kgspark import materialize

        self.n_ops += 1
        run_id = f"run{self.n_ops}"
        root = os.path.join(self.work, f"wh{self.n_ops}")
        wh = materialize.Warehouse(self.spark, root)
        t0 = time.perf_counter()
        entry = materialize.run_pipeline(self.spark, self.pages, wh, run_id, check_digest=True)
        wall = time.perf_counter() - t0
        want = {
            "input_docs": self.n_docs, "processed_docs": self.n_docs,
            "skipped_docs": 0, "prefiltered_pages": 0, "error_docs": self.n_errors,
        }
        bad = [f"{k}={entry[k]} want {v}" for k, v in want.items() if entry[k] != v]
        got = {
            tuple(r) for r in wh.read("triples")
            .filter(F.col("doc_id").isin(self.sample_docs))
            .select("subj", "pred", "obj", "doc_id").collect()
        }
        if got != self.sample_triples:
            bad.append(
                f"sample triples: {len(got - self.sample_triples)} extra, "
                f"{len(self.sample_triples - got)} missing"
            )
        self.last_wh = wh
        if not keep:
            shutil.rmtree(root)
        return wall, bad

    def traced(self, t: layers.Tracer) -> tuple[dict, list[str]]:
        """The op as forced layer calls, each on the persisted frame before it.
        Then a re-fed batch into the untraced op's warehouse (tier-1 resume)."""
        from pyspark.sql import functions as F

        from kgspark import canon, materialize, pipeline

        held = []

        def force(df):
            df = df.persist()
            held.append(df)
            return df, df.count()

        with t.span("html_extract", "op") as o:
            ex, o["rows"] = force(pipeline.extract_docs(self.pages))
        with t.span("pipeline.docs", "op") as o:
            d, o["rows"] = force(pipeline.docs_from_extracted(ex))
        with t.span("chunking", "op") as o:
            c, o["rows"] = force(pipeline.chunks(d))
        with t.span("web_extraction", "op") as o:
            x, o["rows"] = force(pipeline.extracted_chunks(c))
        with t.span("pipeline.fold", "op") as o:
            e, _ = force(pipeline.entities(x))
            r, n_rel = force(pipeline.relations(x, e))
            tri, o["rows"] = force(pipeline.triples(r))
        n_stmt = x.select(F.sum(F.size("extraction.relationships"))).first()[0]
        with t.span("canon", "op") as o:
            names, n_names = force(canon.distinct_names(e))
            cmap, _ = force(canon.canonical_map(self.spark, names=names))
            _, o["rows"] = force(canon.canonical_triples(tri, cmap))
        wh_root = os.path.join(self.work, "wh_traced")
        with t.span("materialize", "op") as o:
            wh = materialize.Warehouse(self.spark, wh_root)
            stages = [("docs", d), ("chunks", c), ("entities", e), ("relations", r),
                      ("triples", tri), ("doc_status", materialize.doc_status(d, c, "traced"))]
            for name, df in stages:
                o["rows"] += wh.append(name, df, "traced")["n_rows"]
            wh.mutate_manifest(lambda m: m["runs"].append({"run_id": "traced"}))
        written = _dir_bytes(wh_root)
        for df in held:
            df.unpersist()

        bad = []
        if t.rows["html_extract"] != self.items or t.rows["pipeline.docs"] != self.n_docs:
            bad.append("traced layer row counts differ from the generation")
        # re-feed every page into the untraced op's warehouse: each page that
        # extracted cleanly is dropped by the seen_inputs prefilter
        self.spark.sparkContext.setJobGroup("resume", "resume")
        entry = materialize.run_pipeline(self.spark, self.pages, self.last_wh, "resume")
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        want = {"prefiltered_pages": self.items - self.n_errors, "processed_docs": 0,
                "input_docs": 0, "error_docs": self.n_errors}
        bad += [f"resume {k}={entry[k]} want {v}" for k, v in want.items() if entry[k] != v]
        extras = {
            "pipeline.docs.kept_ratio": t.rows["pipeline.docs"] / t.rows["html_extract"],
            "pipeline.fold.relations_kept_ratio": n_rel / n_stmt,
            "materialize.prefiltered_ratio": entry["prefiltered_pages"] / self.items,
            "materialize.bytes_written_per_input_byte": written / self.input_bytes,
            "canon.new_names": n_names,
        }
        return extras, bad


class GraphQuery:
    """graph_search (typed BFS) + components + pagerank over a Zipf graph."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        from kgspark import graph

        triples, ents, rels = refs.zipf_graph(seed, GRAPH_NAMES, GRAPH_EDGES, GRAPH_BLOCKS)
        paths = {}
        for name, rows, cols in (("triples", triples, refs.TRIPLE_COLS),
                                 ("entities", ents, refs.ENTITY_COLS),
                                 ("relations", rels, refs.RELATION_COLS)):
            paths[name] = os.path.join(work, name)
            refs.write_parquet(rows, cols, paths[name], files=cores)
        self.t, self.e, self.r = (spark.read.parquet(paths[n]) for n in ("triples", "entities", "relations"))
        self.want_bfs = refs.bfs_ref(ents, rels, **BFS)
        self.want_cc = refs.components_ref(triples)
        self.scale = graph.PAGERANK_SCALE
        self.want_pr = refs.pagerank_ref(triples, graph.PAGERANK_ITERS, self.scale)
        self.items = 3

    def _bfs(self):
        from kgspark import graph

        return graph.graph_search(self.e, self.r, **BFS).collect()

    def _cc(self):
        from kgspark import graph

        return graph.components(self.t).collect()

    def _pr(self):
        from kgspark import graph

        return graph.pagerank(self.t).collect()

    def _check(self, bfs, cc, pr) -> list[str]:
        bad = []
        if {(x.start, tuple(x.path), x.depth) for x in bfs} != self.want_bfs:
            bad.append("graph_search paths differ from the BFS reference")
        if {x.name: (x.component_id, x.n_members) for x in cc} != self.want_cc:
            bad.append("components differ from union-find")
        got = {x.name: x.pagerank for x in pr}
        if got != self.want_pr:
            bad.append("pagerank differs from the integer reference")
        if not 0 <= self.scale - sum(got.values()) < self.scale * 1e-6:
            bad.append("pagerank mass does not sum to its scale")
        return bad

    def op(self, keep: bool = False):
        t0 = time.perf_counter()
        out = (self._bfs(), self._cc(), self._pr())
        wall = time.perf_counter() - t0
        return wall, self._check(*out)

    def traced(self, t: layers.Tracer) -> tuple[dict, list[str]]:
        out = []
        for layer, fn in (("graph.bfs", self._bfs), ("graph.components", self._cc),
                          ("graph.pagerank", self._pr)):
            with t.span(layer, "op") as o:
                rows = fn()
                o["rows"] = len(rows)
            out.append(rows)
        return {}, self._check(*out)


WORKLOADS = {"bulk_build": BulkBuild, "graph_query": GraphQuery}


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    sys.path.insert(0, a.root)
    from kgspark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(a.workdir, "spark-warehouse"),
        # initial heap = max heap: no heap-resizing noise in walls or RSS
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    events = os.path.join(a.workdir, "events")
    if a.trace:
        os.makedirs(events)
        confs.update(layers.eventlog_confs(events))
    spark = get_spark(
        app_name=f"perfbench-{a.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"session_s": time.perf_counter() - t_start}
    wl = WORKLOADS[a.workload](spark, a.workdir, a.seed, cores)
    phases["inputs_s"] = time.perf_counter() - t_start - sum(phases.values())
    attempted, failed, failures = 0, 0, []

    def count(bad: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        failed += bool(bad)
        failures.extend(bad)

    def run_op(keep=False):
        """One checked op; its wall, or None if it raised."""
        try:
            wall, bad = wl.op(keep)
        except Exception as e:  # a failed op is counted, the run goes on
            traceback.print_exc()
            wall, bad = None, [f"op raised {type(e).__name__}: {e}"]
        count(bad)
        return wall

    # one full-size op fills the codegen cache and starts the JIT; it is the
    # slowest op of a run (~2x a warm op), and walls still fall slowly after
    phases["warmup_op_s"] = run_op()
    setup_s = time.perf_counter() - t_start

    if not a.trace:
        walls = []
        marker = os.path.join(a.workdir, "timed")
        open(marker, "w").close()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < a.seconds:
            wall = run_op()
            if wall is not None:
                walls.append(wall)
        os.remove(marker)
        spark.stop()
        if not walls:
            raise RuntimeError(f"every timed op failed: {failures}")
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
            "items_per_s": {"value": wl.items * len(walls) / sum(walls), "unit": "1/s"},
        }
        detail = {"timed_ops": len(walls), "op_walls_s": walls}
    else:
        sc = spark.sparkContext
        sc.setJobGroup("batch", "batch")
        untraced = run_op(keep=True)
        if untraced is None:
            raise RuntimeError(f"the untraced op failed: {failures}")
        sc.setLocalProperty("spark.jobGroup.id", None)
        batch_jobs = len(sc.statusTracker().getJobIdsForGroup("batch"))
        tracer = layers.Tracer(spark)
        extras, bad = wl.traced(tracer)
        count(bad)
        op_start = min(s["start"] for s in tracer.spans)
        op_end = max(s["end"] for s in tracer.spans)
        tracer.spans.append({"name": "op", "start": op_start, "end": op_end, "parent": None})
        traced_wall = op_end - op_start
        spark.stop()
        layer = layers.rollup(tracer, events, cores, untraced)
        busy = sum(layer[f"{l}.busy_s"] for l in layers.LAYERS)
        values = {k: 0.0 for k in layers.RATIOS}
        values.update(layer)
        values.update(extras)
        values.update({
            "batch.jobs": batch_jobs,
            "trace.coverage": busy / untraced,
            "trace.overhead": traced_wall / untraced - 1.0,
        })
        units = layers.metric_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        detail = {"untraced_op_s": untraced, "traced_op_s": traced_wall,
                  "spans": [dict(s, start=s["start"] - t_start, end=s["end"] - t_start)
                            for s in tracer.spans]}
    detail["setup_phases"] = phases
    print(json.dumps({"detail": detail, "failures": failures}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
