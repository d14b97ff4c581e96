"""Store-discipline machinery: layout versioning and the adversarial
object-store backend.

Layout versioning (ADVICE r10): persisted ``__bucket`` values changed
from engine ``hash()`` (layout v1) to md5 ``portable_bucket`` (v2) — a
v1 durable root resumed with v2 code would SILENTLY stop matching
(dedup re-emits seen keys, deltajoin misses cross-run pairs). The
marker gate turns that silent mismatch into a fail-fast at the resume
entry point.

NonAtomicRenameBackend (VERDICT r10 #4): the LocalFs backend's
crash-safety argument leans on atomic directory rename, which object
stores do not have. The adversarial backend re-implements
``replace_store`` as copy+marker+delete with injectable crashes at
every window — including a TORN copy — and the crash-exactness tests
drive the real operators through it, proving no caller relies on
rename atomicity beyond what ``recover`` repairs. Reference analog:
RestoreTestBase.java:107's savepoint-replay matrix crossed with
filesystem semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_spark.sources.tables import load_table
from flink_spark.streaming import storeutil
from flink_spark.streaming.storeutil import (
    LAYOUT_MARKER,
    LAYOUT_VERSION,
    NonAtomicRenameBackend,
    check_layout,
    prepare_root,
)
from tests.test_dedup_jvm import COLS, _expected_keep_first, _land


# --- layout-version marker -------------------------------------------


def test_fresh_durable_root_gets_marker(tmp_path):
    root, persistent = prepare_root("t", str(tmp_path / "r"))
    assert persistent
    with open(os.path.join(root, LAYOUT_MARKER)) as fh:
        assert fh.read().strip() == str(LAYOUT_VERSION)
    # idempotent on resume
    prepare_root("t", root)


def test_tmp_root_skips_marker(tmp_path):
    import shutil

    root, persistent = prepare_root("t", None)
    try:
        assert not persistent
        assert not os.path.exists(os.path.join(root, LAYOUT_MARKER))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_layout_version_mismatch_fails_fast(tmp_path):
    root = tmp_path / "r"
    root.mkdir()
    (root / LAYOUT_MARKER).write_text("1\n")
    with pytest.raises(ValueError, match="layout version '1'"):
        check_layout(str(root))


def test_unversioned_store_with_data_fails_fast(tmp_path):
    """The exact ADVICE r10 hazard: a root written before layout
    versioning holds committed data but no marker — resuming must fail
    with the migration path spelled out, not silently mismatch."""
    root = tmp_path / "r"
    part = root / "seen" / "__bid=0" / "__bucket=1"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x")
    with pytest.raises(ValueError, match="predates layout versioning"):
        check_layout(str(root))
    # the supported migration spelling (ADVICE r11): explicit operator
    # acceptance stamps the marker, after which resume passes
    storeutil.accept_layout(str(root))
    check_layout(str(root))


def test_accept_layout_scope(tmp_path):
    """accept_layout (ADVICE r11) is a stamp for MARKER-LESS roots
    only: idempotent on an already-current root, and it refuses to
    overwrite a conflicting marker (a v1 store needs a bucket rewrite,
    not an acceptance)."""
    cur = tmp_path / "cur"
    cur.mkdir()
    (cur / LAYOUT_MARKER).write_text(f"{LAYOUT_VERSION}\n")
    storeutil.accept_layout(str(cur))  # no-op
    assert (cur / LAYOUT_MARKER).read_text().strip() == str(LAYOUT_VERSION)
    old = tmp_path / "old"
    old.mkdir()
    (old / LAYOUT_MARKER).write_text("1\n")
    with pytest.raises(ValueError, match="bucket rewrite"):
        storeutil.accept_layout(str(old))
    assert (old / LAYOUT_MARKER).read_text().strip() == "1"


# --- NonAtomicRenameBackend: recovery windows (filesystem-level) ------


def _mk_store(d, names):
    os.makedirs(d, exist_ok=True)
    for n in names:
        with open(os.path.join(d, n), "w") as fh:
            fh.write(n)


def _data_files(d):
    out = set()
    for cur, _dirs, fs in os.walk(d):
        for f in fs:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(cur, f), d))
    return out


WINDOWS = ["old_copy_partial", "old_copy_done", "swap_out",
           "store_copy_partial", "store_copy_done"]


@pytest.mark.parametrize("window", WINDOWS)
def test_nonatomic_replace_recovers_every_window(tmp_path, window):
    """Crash replace_store at each window, run recover: the store must
    hold either the complete OLD content (fold lost — reads stay exact,
    folds are content-preserving) or the complete NEW content (fold
    committed) — never a torn mixture, never nothing."""
    store = str(tmp_path / "store")
    tmp = str(tmp_path / "store.compacting")
    _mk_store(store, ["a.parquet", "b.parquet"])
    _mk_store(tmp, ["folded.parquet"])
    old_files, new_files = _data_files(store), _data_files(tmp)

    be = NonAtomicRenameBackend(crash_at=window)
    with pytest.raises(RuntimeError, match="injected object-store"):
        be.replace_store(store, tmp)
    assert be.crashes == 1
    be.recover(store)
    got = _data_files(store)
    assert got in (old_files, new_files), (window, got)
    assert not os.path.exists(store + ".old")
    assert not os.path.exists(store + ".compacting")
    # windows before the new-content marker must restore OLD content
    if window in ("old_copy_partial", "old_copy_done", "swap_out",
                  "store_copy_partial"):
        assert got == old_files, (window, got)


def test_nonatomic_replace_clean_run(tmp_path):
    store = str(tmp_path / "store")
    tmp = str(tmp_path / "store.compacting")
    _mk_store(store, ["a.parquet"])
    _mk_store(tmp, ["folded.parquet"])
    be = NonAtomicRenameBackend()
    be.replace_store(store, tmp)
    assert _data_files(store) == {"folded.parquet"}
    assert not os.path.exists(store + ".old")
    assert not os.path.exists(store + ".compacting")
    be.recover(store)  # no-op on a committed store
    assert _data_files(store) == {"folded.parquet"}


def test_nonatomic_torn_copy_never_counts_as_committed(tmp_path):
    """The torn window drops a data object and has no completion
    marker: recover must NOT accept the torn store even though
    has_committed_data would see parquet files in it."""
    store = str(tmp_path / "store")
    tmp = str(tmp_path / "store.compacting")
    _mk_store(store, ["a.parquet", "b.parquet"])
    _mk_store(tmp, ["f1.parquet", "f2.parquet"])
    be = NonAtomicRenameBackend(crash_at="store_copy_partial")
    with pytest.raises(RuntimeError):
        be.replace_store(store, tmp)
    # mid-crash state: store exists, is non-empty, but torn
    assert be.has_committed_data(store)
    assert _data_files(store) < {"f1.parquet", "f2.parquet"}
    be.recover(store)
    assert _data_files(store) == {"a.parquet", "b.parquet"}


# --- crash-exactness through the adversarial backend ------------------


@pytest.mark.parametrize("window", WINDOWS)
@pytest.mark.slow
def test_dedup_compaction_crash_exact_on_object_store(
    spark, sf_dir, tmp_path, monkeypatch, window
):
    """The dedup_jvm store-compaction crash matrix on object-store
    rename semantics: the fold's replace_store dies at each window
    during a durable-root drain; the resumed drain must recover the
    store (via BACKEND.recover at operator start), replay the torn
    batch idempotently, and end exactly equal to the batch oracle."""
    from flink_spark.streaming.dedup_jvm import dedup_keep_first_jvm

    be = NonAtomicRenameBackend(crash_at=window)
    monkeypatch.setattr(storeutil, "BACKEND", be)

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "dedup_root")
    ev = load_table(spark, sf_dir, "events").select(*COLS)
    for i in range(4):
        _land(ev.filter(F.col("user_id") % 4 == i), tmp_path, src, f"b{i}")

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        return dedup_keep_first_jvm(
            stream, ["user_id"], ["ts", "event_id"],
            root=root, compact_every=2,
        )

    with pytest.raises(Exception, match="injected object-store"):
        run_once()
    assert be.crashes == 1

    got = run_once()  # one-shot crash cleared: resume repairs + replays
    expected = sorted(
        map(tuple, _expected_keep_first(spark, sf_dir).collect())
    )
    assert sorted(map(tuple, got.collect())) == expected


def test_deltajoin_ttl_compaction_crash_exact_on_object_store(
    spark, tmp_path, monkeypatch
):
    """Deltajoin's TTL compaction swap through the nastiest window (a
    TORN store copy): recovery restores the complete pre-compaction
    store (a superset the join's band predicate filters exactly), the
    replayed batch overwrites its own __dj_bid partitions, and the
    result equals the batch interval join."""
    import pandas as pd

    from flink_spark.streaming.deltajoin import delta_join, tag_union
    

    be = NonAtomicRenameBackend(crash_at="store_copy_partial")
    monkeypatch.setattr(storeutil, "BACKEND", be)

    ts = pd.Series(
        pd.date_range("2024-01-01", periods=12, freq="1min")
    ).astype("datetime64[us]")
    left_pdf = pd.DataFrame({"lk": [i % 3 for i in range(12)], "lts": ts,
                             "lv": [f"l{i}" for i in range(12)]})
    right_pdf = pd.DataFrame({"rk": [i % 3 for i in range(12)], "rts": ts,
                              "rv": [f"r{i}" for i in range(12)]})
    root = str(tmp_path / "dj_root")
    lc, rc = ["lk", "lts", "lv"], ["rk", "rts", "rv"]
    # land the chunked sources ONCE; both drains read the same dirs so
    # the run-2 checkpoint resumes (replays the torn batch) instead of
    # seeing a different source
    for name, pdf in (("l", left_pdf), ("r", right_pdf)):
        d = tmp_path / name
        d.mkdir()
        for i in range(6):
            n = len(pdf)
            pdf.iloc[i * n // 6:(i + 1) * n // 6].to_parquet(
                d / f"part-{i}.parquet", index=False
            )

    def drain():
        schemas = {
            n: spark.read.parquet(str(tmp_path / n)).schema
            for n in ("l", "r")
        }
        lt = (spark.readStream.schema(schemas["l"])
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "l")))
        rt = (spark.readStream.schema(schemas["r"])
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "r")))
        return delta_join(
            tag_union(lt, rt, lc, rc), lc, rc, ["lk"], ["rk"],
            num_buckets=2, ttl="3 minutes", left_ts="lts",
            right_ts="rts", compact_every=2, root=root,
        )

    with pytest.raises(Exception, match="injected object-store"):
        drain()
    assert be.crashes == 1

    got = drain()
    ttl_s = 180.0
    expect = sorted(
        (lr.lk, lr.lts, lr.lv, rr.rk, rr.rts, rr.rv)
        for _, lr in left_pdf.iterrows()
        for _, rr in right_pdf.iterrows()
        if lr.lk == rr.rk
        and abs((lr.lts - rr.rts).total_seconds()) <= ttl_s
    )
    got_rows = sorted(
        (r.lk, pd.Timestamp(r.lts), r.lv, r.rk, pd.Timestamp(r.rts), r.rv)
        for r in got.collect()
    )
    assert got_rows == expect


@pytest.mark.slow
def test_curation_fold_crash_exact_on_object_store(spark, sf_dir,
                                                   tmp_path, monkeypatch):
    """The heaviest multi-store drain (curation: out/fps/bands/sigs)
    through the torn-copy window of its FIRST fold swap: with
    compact_every=2 over 4 batches the fps-store fold fires at batch 3;
    the injected object-store crash tears the folded copy mid-write.
    The resumed drain must restore the complete pre-fold store from the
    marked .old copy, replay batch 3 idempotently, and the survivors
    must equal the uninterrupted batch oracle."""
    import flink_spark.streaming.curation_stream as CS
    from tests.test_neardup_stream import _expected_curation_survivors

    be = NonAtomicRenameBackend(crash_at="store_copy_partial")
    monkeypatch.setattr(storeutil, "BACKEND", be)

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "cur_root")
    docs = load_table(spark, sf_dir, "documents")
    cuts = [0, 120, 240, 360, 10**9]
    for i in range(4):
        _land(
            docs.filter((F.col("doc_id") >= cuts[i])
                        & (F.col("doc_id") < cuts[i + 1])),
            tmp_path, src, f"b{i}",
        )

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        return CS.curation_stream(stream, root=root, compact_every=2)

    with pytest.raises(Exception, match="injected object-store"):
        run_once()
    assert be.crashes == 1

    got = sorted(
        map(tuple, run_once().select("doc_id", "source").collect())
    )
    exp = sorted(
        map(tuple, _expected_curation_survivors(spark, sf_dir).collect())
    )
    assert got == exp


@pytest.mark.parametrize("window", WINDOWS)
@pytest.mark.slow
def test_ivf_fold_crash_exact_on_object_store(spark, sf_dir, tmp_path,
                                              monkeypatch, window):
    """IVF ingest's cells-store fold through EVERY object-store crash
    window (VERDICT r11 #5: the dedup/deltajoin/curation matrices got
    the adversarial backend in r11; the two ANN ingest paths fold
    stores through the same replace_store protocol and deserve the
    same windows). compact_every=2 over two id-chunk batches fires the
    fold at batch 1; the resumed drain must recover the cells store,
    keep the batch-0-frozen codebook byte-identical, replay the torn
    batch idempotently, and probe exactly equal to the batch model."""
    import json

    from flink_spark.streaming.ann_stream import ivf_ingest_stream
    from tests.test_ann_stream import (
        _cands,
        _expected_topk,
        _land as _land_ann,
        _queries,
    )

    be = NonAtomicRenameBackend(crash_at=window)
    monkeypatch.setattr(storeutil, "BACKEND", be)

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "ivf_root")
    cands = _cands(spark, sf_dir)
    ids = sorted(r.vec_id for r in cands.select("vec_id").collect())
    n = len(ids)
    cuts = [ids[n // 4], ids[n // 2], ids[3 * n // 4]]
    chunks = [
        cands.filter(F.col("vec_id") < cuts[0]),
        cands.filter((F.col("vec_id") >= cuts[0])
                     & (F.col("vec_id") < cuts[1])),
        cands.filter((F.col("vec_id") >= cuts[1])
                     & (F.col("vec_id") < cuts[2])),
        cands.filter(F.col("vec_id") >= cuts[2]),
    ]
    for i, ch in enumerate(chunks):
        _land_ann(ch, tmp_path, src, f"b{i}")
    cut = cuts[0]
    # fold fires at batch 3 (compact_every=2; >2 __bid partitions)

    def run_once():
        stream = (
            spark.readStream.schema(cands.schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        return ivf_ingest_stream(stream, root=root, compact_every=2)

    with pytest.raises(Exception, match="injected object-store"):
        run_once()
    assert be.crashes == 1
    cents = open(f"{root}/centroids.json").read()
    assert len(json.loads(cents)) == 8

    idx = run_once()  # crash cleared: recover + replay + re-fold
    assert open(f"{root}/centroids.json").read() == cents
    assert idx.assigned().count() == cands.count()
    got = sorted(map(tuple, idx.topk(_queries(spark, sf_dir)).collect()))
    exp = sorted(
        map(tuple, _expected_topk(spark, sf_dir, train_cut=cut).collect())
    )
    assert got == exp


def test_pq_fold_crash_exact_on_object_store(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """PQ twin through the nastiest window (torn codes-store copy):
    books frozen on the batch-0 slice survive byte-identical, the
    resumed drain repairs the torn fold and replays, and the search
    equals batch pq_topk under those books."""
    from flink_spark.llm.similarity import pq_topk, pq_train
    from flink_spark.streaming.ann_stream import pq_ingest_stream
    from tests.test_ann_stream import (
        _cands,
        _land as _land_ann,
        _queries,
    )

    be = NonAtomicRenameBackend(crash_at="store_copy_partial")
    monkeypatch.setattr(storeutil, "BACKEND", be)

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "pq_root")
    cands = _cands(spark, sf_dir)
    ids = sorted(r.vec_id for r in cands.select("vec_id").collect())
    n = len(ids)
    cuts = [ids[n // 4], ids[n // 2], ids[3 * n // 4]]
    chunks = [
        cands.filter(F.col("vec_id") < cuts[0]),
        cands.filter((F.col("vec_id") >= cuts[0])
                     & (F.col("vec_id") < cuts[1])),
        cands.filter((F.col("vec_id") >= cuts[1])
                     & (F.col("vec_id") < cuts[2])),
        cands.filter(F.col("vec_id") >= cuts[2]),
    ]
    for i, ch in enumerate(chunks):
        _land_ann(ch, tmp_path, src, f"b{i}")
    cut = cuts[0]
    # fold fires at batch 3 (compact_every=2; >2 __bid partitions)

    def run_once():
        stream = (
            spark.readStream.schema(cands.schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        return pq_ingest_stream(stream, root=root, compact_every=2)

    with pytest.raises(Exception, match="injected object-store"):
        run_once()
    assert be.crashes == 1
    books_json = open(f"{root}/codebooks.json").read()

    idx = run_once()
    assert open(f"{root}/codebooks.json").read() == books_json
    assert idx.encoded().count() == cands.count()
    books = pq_train(
        cands.filter(F.col("vec_id") < cut),
        cand_id="vec_id", vec="embedding", m=16, ks=16,
    )
    exp = pq_topk(
        _queries(spark, sf_dir),
        cands.select(F.col("vec_id").alias("cand_id"), "embedding"),
        k=5, m=16, ks=16, books=books,
    )
    got = sorted(map(tuple, idx.topk(_queries(spark, sf_dir)).collect()))
    assert got == sorted(map(tuple, exp.collect()))


# --- r13: schema memo + overlapped writes ----------------------------


def test_read_store_memoizes_schema(spark, tmp_path):
    """read_store infers a store's schema ONCE per path and serves later
    reads from the memo (metadata only — rows always come from disk):
    a second batch's rows written after the memo fills must still be
    visible through a memoized read."""
    store = str(tmp_path / "s")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    storeutil.write_bid_partition(df, store, 0)
    first = storeutil.read_store(spark, store)
    assert store in storeutil._SCHEMA_MEMO
    assert storeutil._SCHEMA_MEMO[store] == first.schema
    # rows written AFTER the memo filled are served by a memoized read
    storeutil.write_bid_partition(
        spark.createDataFrame([(2, "b")], "k long, v string"), store, 1
    )
    again = storeutil.read_store(spark, store)
    assert again.schema == first.schema
    assert sorted(r.k for r in again.collect()) == [1, 2]
    # read_earlier sees exactly the strictly-earlier rows through it
    earlier = storeutil.read_earlier(spark, store, 1)
    assert [r.k for r in earlier.collect()] == [1]


def test_run_parallel_runs_all_and_propagates_errors(tmp_path):
    """run_parallel executes every thunk (overlapped per-batch store
    commits) and re-raises a failing thunk's error after the in-flight
    ones finish — the sequential spelling's fail-the-batch contract."""
    hits = []
    storeutil.run_parallel(
        lambda: hits.append("a"),
        lambda: hits.append("b"),
        lambda: hits.append("c"),
        None,  # conditional writes may pass None
    )
    assert sorted(hits) == ["a", "b", "c"]

    with pytest.raises(RuntimeError, match="boom"):
        storeutil.run_parallel(
            lambda: hits.append("d"),
            lambda: (_ for _ in ()).throw(RuntimeError("boom")),
        )
    assert "d" in hits


def test_one_shot_drains_leave_schema_memo_size_unchanged(spark):
    """Every one-shot drain memoizes the schemas of stores under its
    mkdtemp root; removing the root must drop them, or the memo grows
    by one drain's stores per call in a long-lived process."""
    import flink_spark.queries  # noqa: F401  (registers every query)
    from tests.conftest import SMOKE_SF_DIR
    from flink_spark.queries.registry import QUERIES

    drain = QUERIES["stream_dedup_first"].fn
    before = len(storeutil._SCHEMA_MEMO)
    counts = [drain(spark, SMOKE_SF_DIR).count() for _ in range(3)]
    assert counts[0] > 0 and len(set(counts)) == 1
    assert len(storeutil._SCHEMA_MEMO) == before


def test_remove_root_forgets_only_its_own_stores(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for store in ("r/s", "r/t", "r2/s"):
        storeutil.write_bid_partition(df, str(tmp_path / store), 0)
        storeutil.read_store(spark, str(tmp_path / store))
    storeutil.remove_root(str(tmp_path / "r"))
    assert not (tmp_path / "r").exists()
    assert str(tmp_path / "r/s") not in storeutil._SCHEMA_MEMO
    assert str(tmp_path / "r/t") not in storeutil._SCHEMA_MEMO
    assert str(tmp_path / "r2/s") in storeutil._SCHEMA_MEMO
    storeutil.remove_root(str(tmp_path / "r2"))
