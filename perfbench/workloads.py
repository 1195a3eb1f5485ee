"""The benchmark's workloads: inputs, one job, and its correctness checks.

A workload is driven by one closed-loop client: ``run.py`` submits a job,
waits for it, checks it, then submits the next. Every job calls only the
engine's public functions; the spans around those calls are the layers the
traced run reports.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import refs

from graph_data_science_spark.algorithms import label_propagation, pagerank, triangle_count, wcc
from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.transcripts import derive_link_graph, join_scores_back

# An operation slower than this counts as timed out (failed).
OP_TIMEOUT_S = 120.0
PAGERANK_ARGS = {"damping": 0.85, "tolerance": 1e-6, "max_iterations": 100}
# Below GDS's default of 10: five iterations (ten waves) keep the suite job
# near 11 s, so a run fits its time budget.
LPA_MAX_ITERATIONS = 5
GEN_REPEATS = 3


@dataclass
class JobResult:
    wall_s: float
    ops: int  # operations attempted
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    timings: dict[str, float] = field(default_factory=dict)  # named walls
    rounds: int = 0  # message rounds over the edge table
    algo_wall_s: float = 0.0  # wall of the calls that ran those rounds
    counts: dict[str, float] = field(default_factory=dict)


class Workload:
    name: str
    why: str
    profile: gen.Profile
    ops_per_job: int

    def __init__(self, ctx) -> None:
        self.ctx = ctx  # run.Context: spark, rec, work and cache dirs

    def _path(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def generate(self, seed: int) -> tuple[float, dict]:
        """Write this seed's input; return the median wall of GEN_REPEATS
        generate-and-write passes and the input's traffic dimensions."""
        walls = []
        for _ in range(GEN_REPEATS):
            t0 = time.monotonic()
            table = gen.generate(self.profile, seed)
            gen.write(table, self._path("input.parquet"))
            walls.append(time.monotonic() - t0)
        self.table = table
        return statistics.median(walls), {
            "profile": self.profile.dimensions(),
            "measured": gen.stats(table),
        }

    def run_job(self) -> JobResult:
        """Run one job and check it; raises, timeouts and mismatches count
        as failed operations. ``wall_s`` is the job's own operations (the
        ``timings``), not the checks; a job that raised keeps its full wall."""
        t0 = time.monotonic()
        res = JobResult(wall_s=0.0, ops=self.ops_per_job)
        try:
            self._job(res)
            res.wall_s = sum(res.timings.values())
        except Exception as exc:  # a failing job is a result, not a crash
            traceback.print_exc()
            res.failed = res.ops
            res.errors.append(f"{type(exc).__name__}: {exc}")
            res.wall_s = time.monotonic() - t0
        return res

    def _timed(self, res: JobResult, key: str, t0: float) -> None:
        res.timings[key] = time.monotonic() - t0
        if res.timings[key] > OP_TIMEOUT_S:
            res.failed += 1
            res.errors.append(f"{key}: timed out after {res.timings[key]:.1f} s")

    def _mismatch(self, res: JobResult, what: str) -> None:
        res.failed += 1
        res.errors.append(f"mismatch: {what}")


class TranscriptPagerank(Workload):
    """read parquet -> derive_link_graph -> pagerank -> join_scores_back -> write."""

    name = "transcript_pagerank"
    why = "north-star path: transcript derivation, dense ids, spmv PageRank to 1e-6, join-back"
    profile = gen.CHAT
    ops_per_job = 1

    def setup(self, seed: int) -> tuple[float, dict]:
        gen_s, info = self.generate(seed)
        t = self.table
        keys = [t.column(c).to_numpy(zero_copy_only=False).astype(str) for c in t.column_names]

        def compute():
            g = refs.derive(t)
            pr = refs.pagerank(int(g["n_nodes"]), g["src"], g["dst"], **PAGERANK_ARGS)
            return {"score": pr["score"], "edges": np.array(len(g["src"])), "n_nodes": g["n_nodes"]}

        self.ref = refs.cached(self.ctx.cache, self.name, keys, compute)
        # refs.derive numbers turn nodes 0..n_turns-1 in table order.
        self.want = pd.DataFrame(
            {
                "conv_id": keys[0],
                "turn_idx": t.column("turn_idx").to_numpy().astype(np.int64),
                "want_text": t.column("text").to_numpy(zero_copy_only=False),
                "want_score": self.ref["score"][: t.num_rows],
            }
        )
        info["edges"] = int(self.ref["edges"])
        info["nodes"] = int(self.ref["n_nodes"])
        return gen_s, info

    def _job(self, res: JobResult) -> None:
        spark, rec = self.ctx.spark, self.ctx.rec
        out = self._path(f"scores-{self.ctx.next_id()}")
        t0 = time.monotonic()
        tr = spark.read.parquet(self._path("input.parquet"))
        with rec.span("transcripts.derive"):
            tg = derive_link_graph(tr)
        with rec.span("algorithms.pagerank") as sp:
            pr = pagerank(tg.graph, **PAGERANK_ARGS)
        with rec.span("transcripts.joinback"):
            join_scores_back(tr, tg.turn_ids, pr.scores).write.parquet(out)
        self._timed(res, "job", t0)

        res.rounds = pr.updates_run
        res.algo_wall_s = sp.seconds
        active = (
            json.loads(r["counters"] or "{}").get("active") or 0
            for r in pr.loop.metrics().select("counters").collect()
        )
        res.counts = {
            "edges": float(self.ref["edges"]),
            "supersteps": float(pr.ran_iterations),
            "loop_s": pr.loop_wall_sec,
            "active_rows": float(sum(max(0, a) for a in active)),  # superstep 0 logs -1
        }
        self._check(res, pq.read_table(out).to_pandas(), pr.did_converge)

    def _check(self, res: JobResult, got: pd.DataFrame, converged: bool) -> None:
        want = self.want
        got = got.assign(turn_idx=got["turn_idx"].astype(np.int64))
        if len(got) != len(want):
            return self._mismatch(res, f"join-back rows {len(got)} != {len(want)}")
        m = want.merge(got, on=["conv_id", "turn_idx"], how="left")
        if not (m["text"] == m["want_text"]).all():
            return self._mismatch(res, "join-back text differs from the transcript")
        if not converged:
            return self._mismatch(res, "pagerank did not converge")
        if not np.allclose(m["score"].to_numpy(float), m["want_score"], rtol=0, atol=1e-6):
            return self._mismatch(res, "pagerank scores differ from the reference by > 1e-6")


class CommunitySuite(Workload):
    """wcc -> label_propagation (sync) -> triangle_count on a prebuilt edge table."""

    name = "community_suite"
    why = "full-size vertex state every round: join-, self-join- and window-heavy loops, no spmv"
    profile = gen.AGENT
    ops_per_job = 3

    def setup(self, seed: int) -> tuple[float, dict]:
        """Derive the edge table on the driver (the workload bypasses the
        engine's derivation) and write it as parquet for the jobs."""
        gen_s, info = self.generate(seed)
        t0 = time.monotonic()
        g = refs.derive(self.table)
        pq.write_table(
            pa.table({"src": g["src"], "dst": g["dst"], "weight": g["weight"]}),
            self._path("edges.parquet"),
        )
        build_s = time.monotonic() - t0
        n, src, dst, w = int(g["n_nodes"]), g["src"], g["dst"], g["weight"]

        def compute():
            return {
                **refs.wcc(n, src, dst),
                **refs.label_propagation(n, src, dst, w, LPA_MAX_ITERATIONS),
                **refs.triangles(n, src, dst),
            }

        self.n, self.edges = n, len(src)
        self.ref = refs.cached(self.ctx.cache, self.name, [src, dst, w, g["n_nodes"]], compute)
        info["edges"], info["nodes"] = self.edges, n
        return gen_s + build_s, info

    def _job(self, res: JobResult) -> None:
        spark, rec, n, ref = self.ctx.spark, self.ctx.rec, self.n, self.ref
        g = LinkGraph(edges=spark.read.parquet(self._path("edges.parquet")), node_count=n)

        t0 = time.monotonic()
        with rec.span("algorithms.wcc"):
            w = wcc(g)
            comp = _by_node(w.components.toPandas(), "component", n)
        self._timed(res, "wcc_s", t0)
        if not np.array_equal(comp, ref["component"]):
            self._mismatch(res, "wcc components differ from the min-id reference")

        t0 = time.monotonic()
        with rec.span("algorithms.labelprop"):
            lp = label_propagation(g, max_iterations=LPA_MAX_ITERATIONS, mode="sync")
            lab = _by_node(lp.labels.toPandas(), "label", n)
        self._timed(res, "lpa_s", t0)
        if not np.array_equal(lab, ref["label"]):
            self._mismatch(res, "label propagation differs from the two-wave reference")

        t0 = time.monotonic()
        with rec.span("algorithms.triangles"):
            tc = triangle_count(g)
            tri = _by_node(tc.per_node.toPandas(), "triangles", n)
        self._timed(res, "triangles_s", t0)
        if not np.array_equal(tri, ref["triangles"]) or tc.global_count != int(ref["count"]):
            self._mismatch(res, "triangle counts differ from the exact reference")

        res.rounds = w.ran_iterations + 2 * lp.ran_iterations  # two LPA waves per iteration
        res.algo_wall_s = res.timings["wcc_s"] + res.timings["lpa_s"]
        res.counts = {
            "edges": float(self.edges),
            "wcc_rounds": float(w.ran_iterations),
            "lpa_rounds": float(lp.ran_iterations),
            "triangles": float(tc.global_count),
        }


def _by_node(df: pd.DataFrame, col: str, n: int) -> np.ndarray:
    """Per-node column as an array indexed by node id (-1 where missing)."""
    out = np.full(n, -1, dtype=np.int64)
    out[df["node_id"].to_numpy(np.int64)] = df[col].to_numpy(np.int64)
    return out


WORKLOADS = {w.name: w for w in (TranscriptPagerank, CommunitySuite)}
