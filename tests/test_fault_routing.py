"""Per-row fault tolerance in the Arrow stages: one poisoned document
must not fail the job, must be visible as a FAULT sentinel in the
signatures checkpoint, and must not perturb results for other files."""

import pandas as pd

from codedup.config import DedupConfig


def test_signature_fault_is_routed_not_fatal(spark, tmp_path, monkeypatch):
    from codedup import pipeline

    files = pd.DataFrame(
        [
            ("org/a", "poison.py", "a" * 40, "python", "POISON_MARKER plus content " * 20),
            ("org/a", "x.py", "b" * 40, "python", "def f():\n    return 1\n" * 30),
            ("org/b", "x_copy.py", "c" * 40, "python", "def f():\n    return 1\n" * 30 + "# v2\n"),
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    src = str(tmp_path / "files.parquet")
    files.to_parquet(src, index=False)

    monkeypatch.setenv("CODEDUP_FAULT_INJECT", "POISON_MARKER")
    cfg = DedupConfig(shuffle_partitions=4)
    res = pipeline.run(spark, [src], cfg, work_dir=str(tmp_path / "w"),
                       run_id="f", resume=False)

    sigs = spark.read.parquet(str(tmp_path / "w" / "runs" / "f" / "signatures")).toPandas()
    faults = sigs[sigs.n_shingles < 0]
    assert len(faults) == 1, "poisoned row must surface as exactly one sentinel"

    # the healthy near-dup pair is still found
    m = res.members.toPandas()
    assert set(m.path) == {"x.py", "x_copy.py"}
    assert m.cluster_id.nunique() == 1

    # and without the fault hook the same corpus signs all three rows
    monkeypatch.delenv("CODEDUP_FAULT_INJECT")
    res2 = pipeline.run(spark, [src], cfg, work_dir=str(tmp_path / "w2"),
                        run_id="f2", resume=False)
    sigs2 = spark.read.parquet(str(tmp_path / "w2" / "runs" / "f2" / "signatures")).toPandas()
    assert (sigs2.n_shingles >= 0).all()


def test_verify_fault_recorded_not_fatal(spark, monkeypatch):
    """A pair that explodes inside verification becomes a kind='fault'
    row (visible, excluded from clustering) instead of a task failure."""
    from codedup.stages.verify import verify_pairs

    monkeypatch.setenv("CODEDUP_FAULT_INJECT", "VERIFY_POISON")
    cfg = DedupConfig(shuffle_partitions=4)
    body = "def g():\n    return 42\n" * 20
    reps = spark.createDataFrame(
        [(1, body + "VERIFY_POISON\n"), (2, body + "VERIFY_POISON !\n"),
         (3, body), (4, body + "# ok\n")],
        "file_id long, content string",
    )
    import numpy as np

    from codedup import kernels as K

    def sig_row(fid, text):
        sh = K.shingle_hashes(text, cfg.shingle_k, cfg.normalize_ws)
        return (fid, int(sh.size),
                K.minhash_signature(sh, cfg.num_perm, cfg.minhash_seed).tolist(),
                K.simhash64(sh))

    sigs = spark.createDataFrame(
        [sig_row(f, t) for f, t in [(1, body), (2, body), (3, body), (4, body)]],
        "file_id long, n_shingles int, minhash array<long>, simhash long",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    out = verify_pairs(pairs, reps, sigs, cfg).toPandas()
    faults = out[out.kind == "fault"]
    ok = out[out.kind != "fault"]
    assert len(faults) == 1 and set(faults[["a", "b"]].iloc[0]) == {1, 2}
    assert len(ok) == 1 and set(ok[["a", "b"]].iloc[0]) == {3, 4}


def test_fault_sentinels_never_band_in_stream_or_batch(spark, tmp_path, monkeypatch):
    """Every FAULT sentinel carries an empty minhash, so if sentinels
    reached banding, two faulted files would share a bucket in every
    band and surface as a kind='fault' pair.  The stream and the batch
    pipeline both drop sentinels before banding: no fault pair either
    way.  The MinHash prefilter is off: two empty signatures agree on 0
    slots, so the default prefilter would drop the pair before verify
    and hide where it came from."""
    from codedup import pipeline
    from codedup.streaming import IncrementalDedup

    body = "def f():\n    return 1\n" * 30
    files = pd.DataFrame(
        [
            ("org/a", "p1.py", "a" * 40, "python", "POISON_MARKER one " * 20),
            ("org/a", "p2.py", "b" * 40, "python", "POISON_MARKER two " * 20),
            ("org/a", "x.py", "c" * 40, "python", body),
            ("org/b", "x_copy.py", "d" * 40, "python", body + "# v2\n"),
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    src = str(tmp_path / "files.parquet")
    files.to_parquet(src, index=False)

    monkeypatch.setenv("CODEDUP_FAULT_INJECT", "POISON_MARKER")
    cfg = DedupConfig(shuffle_partitions=4, minhash_prefilter_margin=None)
    inc = IncrementalDedup(spark, str(tmp_path / "stream"), cfg)
    inc.process_batch(spark.read.parquet(src), 0)
    assert (inc.signatures().toPandas().n_shingles < 0).sum() == 2
    stream_pairs = inc.pairs().toPandas()
    assert not (stream_pairs.kind == "fault").any()
    assert len(stream_pairs) == 1          # the healthy near-dup pair

    res = pipeline.run(spark, [src], cfg, work_dir=str(tmp_path / "w"),
                       run_id="f", resume=False)
    verified = res.verified.toPandas()
    assert not (verified.kind == "fault").any()
    assert len(verified) == 1
