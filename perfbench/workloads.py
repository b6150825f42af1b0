"""The benchmark's workloads: their inputs, their warm-up, one timed
pass each, and the checks on every pass's outputs.

``dedup``: a seeded code corpus from ``codedup.fixtures``.  The warm-up
feeds the files in drops to ``IncrementalDedup.process_batch``
(compaction fires on the last drop); a timed pass is one cold
``pipeline.run`` into a fresh work dir, and the first timed pass also
resumes its job once.  It exercises the stage chain, its kernels,
checkpoint storage and streaming state; it never touches the catalog's
ANN or apply code.

``catalog``: a fixed subset of ``QUERIES`` over the catalog tables in
``data/``; the warm-up is one untimed pass.  It is the only workload
that exercises ``ann``, ``apply`` and the relational queries; it never
touches checkpoint storage or streaming state.  Its input does not
depend on the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (n_base, n_hot_family, n_drops) per tier.  n_hot_family puts more
# variants of one file than DedupConfig.band_bucket_cap (64) into the
# corpus, so the candidates stage takes its hot-bucket star path.  The
# default tier streams the corpus in one drop: every drop costs 10-20 s
# in a fresh JVM, and a run has no time for a second one.  The tiny
# tier uses two, so the smoke test covers the cross-drop path.
DEDUP_TIERS = {"default": (150, 70, 1), "tiny": (120, 0, 2)}

# Queries timed by the catalog workload: one query each for ann and
# apply, and two relational queries.  A run has to fit a warm-up and
# four timed passes into well under a minute, so the pass leaves out
# every query whose settled time alone is seconds on 4 cores: the
# MinHash chain (dedup_minhash_lsh and the queries its memo serves,
# 6-8 s; the dedup workload times the same stage functions and
# kernels), the set-similarity operator (dedup_ngram_jaccard and
# dedup_containment, 12-14 s each), winnowing_pairs (2 s) and the rest
# of the catalog.
CATALOG_TIERS = {
    "default": ["ann_ivf_topk", "apply_plan_moves", "revenue_by_nation",
                "top_orders_per_customer"],
    "tiny": ["ann_ivf_topk", "revenue_by_nation"],
}
CATALOG_DATA = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "catalog_digests.json")


@dataclass
class Pass:
    wall_s: float
    attempted: int = 0
    failed: int = 0
    ops: dict[str, list[float]] = field(default_factory=dict)   # op kind -> latencies
    values: dict[str, float] = field(default_factory=dict)      # checked quality figures
    errors: list[str] = field(default_factory=list)

    def op(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)


def _fail(p: Pass, n: int, msg: str) -> None:
    p.failed += n
    p.errors.append(msg)


# --- shared -------------------------------------------------------------

def bench_session(app_name: str):
    """The session every benchmark run, and the digest recorder, runs
    on: ``local[<cores>]`` over every core this process may use, one
    shuffle partition per core."""
    from codedup.session import build_session

    cores = len(os.sched_getaffinity(0))
    spark = build_session(f"local[{cores}]", app_name=app_name, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def canonical_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a query result: columns by name,
    values as text, rows sorted."""
    df = pdf[sorted(pdf.columns)].astype(str)
    df = df.sort_values(list(df.columns), ignore_index=True)
    h = hashlib.sha256("|".join(df.columns).encode())
    h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def schema_of(pdf: pd.DataFrame) -> str:
    return ",".join(f"{c}:{t}" for c, t in sorted(pdf.dtypes.astype(str).items()))


def dir_bytes(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


# --- dedup --------------------------------------------------------------

def _generator_key() -> str:
    h = hashlib.sha256()
    for p in (os.path.join(ROOT, "codedup", "fixtures.py"), os.path.abspath(__file__)):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def make_dedup_inputs(cache: str, seed: int, tier: str) -> str:
    """Write the corpus, its truth clusters and the stream drops for
    ``seed``; reuse them if an earlier run wrote them.  The directory is
    keyed by the generator's source, so a changed generator never
    serves stale inputs."""
    from codedup.fixtures import generate_corpus

    n_base, n_hot, n_drops = DEDUP_TIERS[tier]
    d = os.path.join(cache, f"dedup-{tier}-s{seed}-{_generator_key()}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    c = generate_corpus("bench", seed, n_base=n_base, n_hot_family=n_hot)
    files = c["files"]
    files.to_parquet(os.path.join(d, "files.parquet"), index=False)
    c["truth_clusters"].to_parquet(os.path.join(d, "truth_clusters.parquet"), index=False)
    for i in range(n_drops):
        files.iloc[i::n_drops].to_parquet(os.path.join(d, f"drop{i}.parquet"), index=False)
    with open(os.path.join(d, "_DONE"), "w") as f:
        json.dump({"files": len(files), "content_bytes": int(files.content.str.len().sum())}, f)
    return d


def partition_of(members: pd.DataFrame) -> set[frozenset]:
    return {frozenset(g) for _, g in members.groupby("cluster_id")["file_id"]}


class Dedup:
    PASS_S = 15   # settled pass on 4 cores, sizes the number of timed passes

    def __init__(self, spark, tracer, inputs: str, work: str, tier: str):
        from codedup.config import DedupConfig

        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.cfg = DedupConfig(
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
        self.n_drops = DEDUP_TIERS[tier][2]
        self.source = os.path.join(inputs, "files.parquet")
        with open(os.path.join(inputs, "_DONE")) as f:
            self.input_mb = json.load(f)["content_bytes"] / 1e6
        self.truth = spark.read.parquet(os.path.join(inputs, "truth_clusters.parquet"))
        self._seq = 0
        self.last: dict = {}
        self.resumed = False
        self.stream_pairs: pd.DataFrame | None = None   # set by warm_up, checked once

    def _fresh(self, kind: str) -> str:
        self._seq += 1
        return os.path.join(self.work, f"{kind}{self._seq}")

    def _storage(self, work_dir: str):
        from codedup.storage import ParquetStorage

        from perfbench.trace import TracedStorage

        if not self.tracer.enabled:
            return None   # pipeline.run builds the same ParquetStorage itself
        return TracedStorage(ParquetStorage(work_dir, "bench", self.cfg.fingerprint()), self.tracer)

    def _run(self, work_dir: str, resume: bool):
        from codedup import pipeline

        store = self._storage(work_dir)
        res = pipeline.run(self.spark, [self.source], self.cfg, work_dir=work_dir,
                           run_id="bench", resume=resume, storage=store)
        if store is not None:
            # what follows the last storage call: the run's summary
            store.close_interval("tail:resume" if resume else "tail:cold")
            self.tracer.clear_group()
        return res

    @staticmethod
    def stage_rows(work_dir: str) -> dict[str, int]:
        run_dir = os.path.join(work_dir, "runs", "bench")
        out = {}
        for name in os.listdir(run_dir):
            if name.endswith(".manifest.json"):
                with open(os.path.join(run_dir, name)) as f:
                    m = json.load(f)
                out[m["stage"]] = m["rows"]
        return out

    def warm_up(self) -> Pass:
        """The stream leg, run once before the timed passes: the corpus
        in drops through ``IncrementalDedup.process_batch`` into a fresh
        state dir (compaction fires on the last drop).  It runs the same
        stage functions as the batch pipeline, so it also brings the JVM
        and the Python workers to a steady state for the timed passes.
        Its pairs are checked against the first timed pass's batch run.
        The leg is timed from the processor's construction (state
        bootstrap) to the end of the last drop."""
        from codedup.streaming import IncrementalDedup

        stream_dir = self._fresh("stream")
        p = Pass(wall_s=0.0)
        t0 = time.perf_counter()
        inc = IncrementalDedup(self.spark, stream_dir, self.cfg, compact_every=self.n_drops)
        if self.tracer.enabled:
            compact = inc.compact

            def traced_compact():
                with self.tracer.span("stream:compact"):
                    return compact()
            inc.compact = traced_compact
        ok = True
        for i in range(self.n_drops):
            p.attempted += 1
            batch = self.spark.read.parquet(os.path.join(self.inputs, f"drop{i}.parquet"))
            t_batch = time.perf_counter()
            try:
                with self.tracer.span(f"stream:batch{i}"):
                    inc.process_batch(batch, i)
                p.op("stream_batch", time.perf_counter() - t_batch)
            except Exception:
                ok = False
                _fail(p, 1, f"process_batch({i}) raised:\n" + traceback.format_exc())
        p.wall_s = time.perf_counter() - t0
        self.last["stream_state_bytes"], self.last["stream_state_files"] = dir_bytes(stream_dir)
        if ok:
            try:
                self.stream_pairs = inc.pairs().select("a", "b", "kind").toPandas()
            except Exception:
                _fail(p, p.attempted, "reading the stream's pairs raised:\n"
                      + traceback.format_exc())
        shutil.rmtree(stream_dir, ignore_errors=True)
        return p

    def run_pass(self) -> Pass:
        """One cold ``pipeline.run`` into a fresh work dir.  The first
        timed pass then resumes the same job once; the resume is timed
        as an operation of its own, outside the pass."""
        work_dir = self._fresh("batch")
        p = Pass(wall_s=0.0)
        res = res2 = None
        p.attempted += 1
        t0 = time.perf_counter()
        try:
            res = self._run(work_dir, resume=False)
            p.op("batch", time.perf_counter() - t0)
        except Exception:
            _fail(p, 1, "pipeline.run (cold) raised:\n" + traceback.format_exc())
        p.wall_s = time.perf_counter() - t0
        if not self.resumed:
            self.resumed = True
            p.attempted += 1
            t0 = time.perf_counter()
            try:
                res2 = self._run(work_dir, resume=True)
                p.op("resume", time.perf_counter() - t0)
            except Exception:
                _fail(p, 1, "pipeline.run (resume) raised:\n" + traceback.format_exc())
        try:
            self._check(p, work_dir, res, res2)
        except Exception:
            _fail(p, p.attempted - p.failed, "checking the outputs raised:\n"
                  + traceback.format_exc())
        shutil.rmtree(work_dir, ignore_errors=True)
        return p

    def _check(self, p: Pass, work_dir, res, res2) -> None:
        from tools.recall_at_scale import score_counting

        self.last["storage_bytes"] = dir_bytes(work_dir)[0]
        if res is None:
            return
        self.last["stage_rows"] = self.stage_rows(work_dir)
        verified = res.verified.select("a", "b", "kind").toPandas()
        p.values["fault_rows"] = int((verified.kind == "fault").sum())
        n_truth, n_pred, n_inter = score_counting(self.truth, res.members)
        recall = n_inter / n_truth if n_truth else 1.0
        precision = n_inter / n_pred if n_pred else 1.0
        p.values.update(recall=recall, precision=precision)
        if recall < 0.99:
            _fail(p, 1, f"recall {recall:.4f} < 0.99")
        if res2 is not None:
            if res2.recomputed_stages:
                _fail(p, 1, f"resume recomputed {res2.recomputed_stages}")
            members = res.members.select("file_id", "cluster_id").toPandas()
            members2 = res2.members.select("file_id", "cluster_id").toPandas()
            if partition_of(members2) != partition_of(members):
                _fail(p, 1, "resumed run changed cluster membership")
        if self.stream_pairs is not None:
            self._check_stream(p, res, verified)
            self.stream_pairs = None

    def _check_stream(self, p: Pass, res, verified: pd.DataFrame) -> None:
        """stream == batch at content level: streaming elects first-seen
        representatives and batch the min file_id, so pairs are compared
        as sha256 pairs (tests/test_streaming.py).  A bucket past
        band_bucket_cap is in the star regime: the batch run sees it hot
        from the start and emits star edges only, while the stream emits
        complete pairs until the bucket grows hot.  The streaming
        contract there is the same components, not the same pairs, so
        both are compared as partitions of sha256 values.  A failure
        counts against this pass's batch run, the operation it is
        compared with."""
        got = self.stream_pairs
        if got.duplicated(["a", "b"]).any():
            _fail(p, 1, "the stream verified a pair twice across drops")
            return
        fp = res.fingerprints.select("file_id", "sha256").toPandas()
        id2sha = dict(zip(fp.file_id, fp.sha256))

        def sha_pairs(df):
            df = df[df.kind != "fault"]
            return {tuple(sorted((id2sha[a], id2sha[b]))) for a, b in zip(df.a, df.b)}

        got_keys, want_keys = sha_pairs(got), sha_pairs(verified)
        p.values["stream_pairs"] = len(got_keys)
        p.values["stream_pairs_not_in_batch"] = len(got_keys - want_keys)
        if components(got_keys) != components(want_keys):
            _fail(p, 1, f"stream components differ from batch: stream pairs "
                        f"{len(got_keys)}, batch pairs {len(want_keys)}")


def components(pairs) -> set[frozenset]:
    """Connected components (of two or more nodes) of an edge set."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict = {}
    for x in parent:
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


# --- catalog ------------------------------------------------------------

class Catalog:
    PASS_S = 4

    def __init__(self, spark, tracer, tier: str):
        self.spark = spark
        self.tracer = tracer
        self.queries = CATALOG_TIERS[tier]
        with open(DIGESTS) as f:
            self.expected = json.load(f)
        missing = [q for q in self.queries if q not in self.expected]
        if missing:
            raise SystemExit(f"error: no recorded digest for {missing} in {DIGESTS}")

    def warm_up(self) -> Pass:
        return self.run_pass()

    def run_pass(self) -> Pass:
        from codedup.queries import QUERIES, clear_pairs_cache

        # once per pass, not per query: later MinHash queries are served
        # by the in-session memo, as they would be for a user
        clear_pairs_cache()
        p = Pass(wall_s=0.0)
        t_pass = time.perf_counter()
        results = {}
        for q in self.queries:
            p.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"query:{q}"):
                    results[q] = QUERIES[q](self.spark, CATALOG_DATA).toPandas()
                p.op(q, time.perf_counter() - t0)
            except Exception:
                _fail(p, 1, f"query {q} raised:\n" + traceback.format_exc())
        p.wall_s = time.perf_counter() - t_pass
        for q, pdf in results.items():
            exp = self.expected[q]
            got = {"rows": len(pdf), "schema": schema_of(pdf)}
            if exp.get("digest"):
                got["digest"] = canonical_digest(pdf)
            bad = {k: (got[k], exp[k]) for k in got if got[k] != exp[k]}
            if bad:
                _fail(p, 1, f"query {q} output differs from the recorded one: {bad}")
        return p
