"""Pipeline orchestration: the stage DAG with checkpoint/resume.

The reference's lifecycle (find_duplicates, dedup.py:77-107: enumerate
-> hash+cache -> exact groups -> similar groups -> report) becomes a
DAG of DataFrame->DataFrame stages, each optionally committed to a
checkpoint table.  ``run`` with resume=True skips every stage whose
manifest is already committed under the current config fingerprint —
the north_rule's "resumes from the last completed stage without
recomputation" (tested in tests/test_resume.py).

The MinHash chain (reps -> signatures -> bands -> candidates ->
verified) is ``minhash_chain``, shared with the query catalog, which
runs it under the in-session ``local_checkpoint`` policy instead of
checkpoint storage.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codedup.config import DedupConfig
from codedup.stages.banding import band_rows
from codedup.stages.candidates import candidate_pairs
from codedup.stages.cluster import connected_components
from codedup.stages.exact import exact_edges, representatives
from codedup.stages.fingerprint import fingerprint
from codedup.stages.ingest import read_files, split_invalid
from codedup.stages.report import action_plan, rank_members, summary
from codedup.stages.signatures import compute_signatures
from codedup.stages.verify import verify_pairs
from codedup.storage import ParquetStorage, SignatureCache

STAGES = [
    "errors",
    "fingerprint",
    "id_errors",
    "exact_edges",
    "reps",
    "signatures",
    "bands",
    "candidates",
    "verified",
    "clusters",
    "members",
    "actions",
]


@dataclass
class PipelineResult:
    fingerprints: DataFrame
    clusters: DataFrame      # (file_id, cluster_id) for files in any dup group
    members: DataFrame       # clusters ⋈ metadata + rank (1 = keep)
    verified: DataFrame      # verified near-dup pairs with signals
    actions: DataFrame       # declarative keep/dedup/review plan (S10)
    report: dict
    recomputed_stages: list[str] = field(default_factory=list)


class MinHashChain(NamedTuple):
    reps: DataFrame          # one representative per distinct content
    sigs: DataFrame          # signatures, FAULT sentinels included
    cands: DataFrame         # LSH candidate pairs
    verified: DataFrame      # verified pairs (kind='fault' rows included)


def local_checkpoint(name: str, build) -> DataFrame:
    """In-session stage policy: materialize every stage once (eager
    ``localCheckpoint``), so multi-consumer stages (reps and signatures
    feed banding AND both verify joins) never re-run their Arrow
    kernels.  Nothing outlives the session."""
    return build().localCheckpoint(eager=True)


def sign_and_band(reps: DataFrame, cfg: DedupConfig, stage, sign):
    """reps(file_id, content) -> (signatures, band rows) through
    ``stage``.  FAULT sentinel rows (n_shingles = -1, see signatures.py)
    stay visible in the signatures but never reach banding: every one of
    them carries an empty minhash, so they would share a bucket in every
    band and pair with each other."""
    sigs = stage("signatures", lambda: sign(reps))
    bands = stage("bands", lambda: band_rows(sigs.filter(F.col("n_shingles") >= 0), cfg))
    return sigs, bands


def minhash_chain(fp: DataFrame, cfg: DedupConfig, stage, sign) -> MinHashChain:
    """fingerprints -> reps -> signatures -> bands -> candidates ->
    verified, each stage built through ``stage(name, build)`` (the
    checkpoint policy: storage-backed with resume in ``run``,
    ``local_checkpoint`` in the query catalog).  ``sign`` maps
    reps(file_id, content) to the signatures table."""
    reps = stage("reps", lambda: representatives(fp))
    # explicit spread before the CPU-bound signature kernel: a small
    # reps table arrives in a handful of partitions (one parquet file
    # read back, or AQE-coalesced exchanges: measured 10 at sf1.0), which
    # would leave most cores idle for this Arrow stage (same rationale
    # as the verify-stage repartition).  Measured on 4 cores, cold
    # pipeline.run over 3.5k files: signatures stage 5.0 s -> 2.4 s
    par = fp.sparkSession.sparkContext.defaultParallelism
    sigs, bands = sign_and_band(
        reps.select("file_id", "content").repartition(par), cfg, stage, sign)
    cands = stage("candidates", lambda: candidate_pairs(bands, cfg))
    verified = stage("verified", lambda: verify_pairs(cands, reps, sigs, cfg))
    return MinHashChain(reps, sigs, cands, verified)


def run(
    spark: SparkSession,
    source_paths: list[str],
    cfg: DedupConfig | None = None,
    work_dir: str | None = None,
    run_id: str = "run",
    resume: bool = True,
    langs: list[str] | None = None,
    storage=None,
    source_format: str = "parquet",
) -> PipelineResult:
    """``storage``: optional injected checkpoint backend implementing
    the ParquetStorage contract (is_complete/read/write) — e.g.
    iceberg.IcebergStorage on a cluster with a catalog.  Defaults to
    ParquetStorage under ``work_dir``.  The cross-run SignatureCache is
    parquet-path-based and engages only for the default backend."""
    cfg = cfg or DedupConfig()
    if storage is not None:
        store = storage
    else:
        store = ParquetStorage(work_dir, run_id, cfg.fingerprint()) if work_dir else None
    recomputed: list[str] = []
    dirty = False  # once any stage recomputes, everything downstream must too

    def stage(name: str, build) -> DataFrame:
        nonlocal dirty
        if store is not None:
            if resume and not dirty and store.is_complete(name):
                return store.read(spark, name)
            dirty = True
            import time as _time

            t0 = _time.time()
            df = build()
            recomputed.append(name)
            return store.write(df, name, t_start=t0)
        recomputed.append(name)
        return build()

    files, ingest_errors = split_invalid(
        read_files(spark, *source_paths, langs=langs, fmt=source_format))
    if store is not None:
        stage("errors", lambda: ingest_errors)
    fp_all = stage("fingerprint", lambda: fingerprint(files))
    # 64-bit id-collision guard (ADVICE r1): collided rows become error
    # rows and never reach dedup — an apply job must not act on a
    # merged identity
    from codedup.ids import split_id_collisions

    fp, id_collided = split_id_collisions(fp_all)
    stage("id_errors", lambda: id_collided.select(
        "repo", "path", "commit",
        F.lit("identity").alias("stage"),
        F.lit("64-bit file_id collision").alias("message"),
    ))
    eedges = stage("exact_edges", lambda: exact_edges(fp))
    cache = (SignatureCache(store.root, cfg.fingerprint())
             if store is not None and hasattr(store, "root") else None)

    def build_signatures(rep_ids: DataFrame) -> DataFrame:
        cached = cache.read(spark) if cache else None
        if cached is None:
            sigs = compute_signatures(rep_ids, cfg)
            if cache:
                sigs_w = sigs.localCheckpoint(eager=True)
                cache.append(sigs_w)
                return sigs_w
            return sigs
        missing = rep_ids.join(cached.select("file_id"), "file_id", "left_anti")
        new_sigs = compute_signatures(missing, cfg).localCheckpoint(eager=True)
        cache.append(new_sigs)
        reused = cached.join(rep_ids.select("file_id"), "file_id", "left_semi")
        return reused.unionByName(new_sigs)

    verified = minhash_chain(fp, cfg, stage, build_signatures).verified

    def build_clusters() -> DataFrame:
        near_edges = (
            verified.filter(F.col("kind") != "fault")  # fault rows are recorded, not clustered
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
        )
        edges = near_edges.unionByName(eedges)
        return connected_components(edges, cfg)

    clusters = stage("clusters", build_clusters)
    members = stage("members", lambda: rank_members(clusters, fp))
    actions = stage("actions", lambda: action_plan(members)) if store is not None \
        else action_plan(members)
    rep = summary(fp, members)

    if store is not None and hasattr(store, "run_dir"):
        with open(os.path.join(store.run_dir, "report.json"), "w") as f:
            json.dump(rep, f, indent=1, sort_keys=True)

    return PipelineResult(
        fingerprints=fp,
        clusters=clusters,
        members=members,
        verified=verified,
        actions=actions,
        report=rep,
        recomputed_stages=recomputed,
    )
