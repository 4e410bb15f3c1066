"""Persisted MinHash band store + embedding bucket store
(functions/dedup.py: write_band_store / cross_dup_pairs_stored /
dedup_against_store, write_embedding_store /
embedding_dups_against_store) — the incremental-ingest state that stops
the streaming corpus ingest re-shingling the entire kept corpus every
micro-batch (r5 VERDICT item 1).

The ref side of a stored probe takes NO text input at all — by
construction it cannot be re-shingled; these tests pin that the stored
probe's output is PAIR-IDENTICAL to the recompute path over the same
reference rows."""

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from cerberus_spark.functions import dedup as D

_BASE = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon")

_REF = [
    (1, _BASE),
    (2, "completely different reference content about other things "
        "entirely with plenty of words to shingle"),
    (3, "a third reference document living in its own epoch with "
        "enough words to produce a healthy shingle set"),
]

_NEW = [
    (10, _BASE + " tiny extra tail"),              # near-copy of ref 1
    (11, "fresh new crawl content sharing nothing with the reference "
         "corpus at all in any window"),           # unique
    (12, "a third reference document living in its own epoch with "
         "enough words to produce a healthy shingle set plus"),  # ≈ ref 3
    (14, "   "),                                   # tokenless: never paired
    (1, "identifier collision across corpora must not imply identity "
        "of the underlying documents in any way"),  # id collides with ref 1
]


def _write_ref_store(spark, tmp_path, rows_by_epoch, **kw):
    store = str(tmp_path / "band_store")
    for epoch, rows in enumerate(rows_by_epoch):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        D.write_band_store(df, store, epoch, "doc_id", "text", **kw)
    return store


def test_band_store_pairs_equal_recompute(spark, tmp_path):
    """Stored probe ≡ cross_dup_pairs over the same reference rows —
    same pairs, same jaccard values — with the ref split over TWO
    store epochs (the ingest shape)."""
    store = _write_ref_store(spark, tmp_path, [_REF[:2], _REF[2:]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    ref = spark.createDataFrame(_REF, "doc_id long, text string")

    want = {(r.id_new, r.id_ref, round(r.jaccard, 12))
            for r in D.cross_dup_pairs(new, ref, "doc_id", "text",
                                       threshold=0.6).collect()}
    got = {(r.id_new, r.id_ref, round(r.jaccard, 12))
           for r in D.cross_dup_pairs_stored(new, store, "doc_id", "text",
                                             threshold=0.6).collect()}
    assert got == want and {(a, b) for a, b, _ in got} == {(10, 1), (12, 3)}

    kept = {r.doc_id for r in D.dedup_against_store(
        new, store, "doc_id", "text", threshold=0.6).collect()}
    assert kept == {11, 14, 1}


def test_band_store_max_epoch_prunes(spark, tmp_path):
    """max_epoch=N probes only epochs < N — the retry-idempotence
    contract (an epoch never probes its own half-committed write)."""
    store = _write_ref_store(spark, tmp_path, [_REF[:2], _REF[2:]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    got = {(r.id_new, r.id_ref)
           for r in D.cross_dup_pairs_stored(
               new, store, "doc_id", "text", threshold=0.6,
               max_epoch=1).collect()}
    assert got == {(10, 1)}  # ref 3 lives in epoch 1: invisible


@pytest.mark.parametrize("seed", range(2))
def test_band_store_fuzz_equals_recompute(spark, tmp_path, seed):
    rng = random.Random(9100 + seed)
    vocab = [f"w{i}" for i in range(30)]

    def doc():
        return " ".join(rng.choices(vocab, k=rng.randrange(0, 25)))

    ref_rows = [(i, doc()) for i in range(15)]
    new_rows = [(i, doc()) for i in range(20)]
    for t in range(3):
        base = ref_rows[rng.randrange(len(ref_rows))][1]
        if len(base.split()) > 8:
            new_rows[t] = (100 + t, base + " " + vocab[t])

    store = _write_ref_store(spark, tmp_path / f"s{seed}",
                             [ref_rows[:7], ref_rows[7:]],
                             num_perm=16, bands=8)
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    want = {(r.id_new, r.id_ref, round(r.jaccard, 12))
            for r in D.cross_dup_pairs(new, ref, "doc_id", "text",
                                       threshold=0.7, num_perm=16,
                                       bands=8).collect()}
    got = {(r.id_new, r.id_ref, round(r.jaccard, 12))
           for r in D.cross_dup_pairs_stored(
               new, store, "doc_id", "text", threshold=0.7,
               num_perm=16, bands=8).collect()}
    assert got == want, f"seed={seed}"


def test_band_store_meta_guard(spark, tmp_path):
    store = _write_ref_store(spark, tmp_path, [_REF])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    with pytest.raises(ValueError, match="not .*comparable|band store"):
        D.cross_dup_pairs_stored(new, store, "doc_id", "text",
                                 num_perm=16).collect()
    df = spark.createDataFrame(_REF, "doc_id long, text string")
    with pytest.raises(ValueError):
        D.write_band_store(df, store, 1, "doc_id", "text", bands=4)
    with pytest.raises(ValueError, match="no band store"):
        D.cross_dup_pairs_stored(new, str(tmp_path / "nowhere"),
                                 "doc_id", "text")


def test_band_store_overflow_new_members_still_checked(spark, tmp_path):
    """bucket_cap parity with cross_dup_pairs: overflow NEW members
    still pair with the stored bucket's head — a capped bucket never
    exempts a new doc."""
    text = " ".join(f"tok{i}" for i in range(30))
    store = _write_ref_store(spark, tmp_path, [[(0, text)]])
    new = spark.createDataFrame([(i, text) for i in range(300)],
                                "doc_id long, text string")
    kept = D.dedup_against_store(new, store, "doc_id", "text",
                                 threshold=0.9, bucket_cap=5)
    assert kept.count() == 0


def test_ingest_cross_dedup_never_reads_corpus_text(spark, tmp_path):
    """The streaming ingest's cross-batch dedup must run entirely off
    the band store: after epoch 0 commits, DELETE the kept corpus —
    epoch 1's near-dup is still dropped (the old design read and
    re-shingled {out}/corpus and would die here)."""
    import shutil

    from cerberus_spark.streaming.validate_stream import (
        corpus_ingest_foreach_batch,
    )

    out = str(tmp_path / "out")
    cb = corpus_ingest_foreach_batch(
        out, id_col="doc_id", text_col="text", dedup_threshold=0.6,
        record_stats=False)
    ddl = "doc_id string, text string"
    cb(spark.createDataFrame([("a", _BASE)], ddl), 0)
    shutil.rmtree(f"{out}/corpus")  # the text is GONE
    cb(spark.createDataFrame([("z", _BASE + " tail"),
                              ("f", "a genuinely fresh document with "
                                    "plenty of new content words")], ddl), 1)
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert kept == {"f"}  # z deduped against the store; a's text deleted


# ---------------------------------------------------------------------------
# embedding bucket store
# ---------------------------------------------------------------------------


def _vecs(rng, n, dim):
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]


def test_embedding_store_pairs_equal_recompute(spark, tmp_path):
    rng = random.Random(41)
    dim = 12
    ref_rows = [(i, v) for i, v in enumerate(_vecs(rng, 12, dim))]
    new_rows = [(i, v) for i, v in enumerate(_vecs(rng, 12, dim))]
    for t in range(3):  # plant cross near-dups
        v = ref_rows[t][1]
        new_rows[t] = (200 + t, [x + rng.gauss(0, 0.01) for x in v])

    store = str(tmp_path / "emb_store")
    ref = spark.createDataFrame(ref_rows, "vec_id long, emb array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, emb array<double>")
    half = len(ref_rows) // 2
    for epoch, rows in enumerate([ref_rows[:half], ref_rows[half:]]):
        D.write_embedding_store(
            spark.createDataFrame(rows, "vec_id long, emb array<double>"),
            store, epoch, "vec_id", "emb", n_bits=8, n_tables=8)

    want = {(r.id_new, r.id_ref, round(r.cosine, 9))
            for r in D.embedding_dups_against(
                new, ref, "vec_id", "emb", threshold=0.98, dim=dim,
                n_bits=8, n_tables=8).collect()}
    got = {(r.id_new, r.id_ref, round(r.cosine, 9))
           for r in D.embedding_dups_against_store(
               new, ref, store, "vec_id", "emb",
               threshold=0.98).collect()}
    assert got == want and len(got) >= 3

    # max_epoch pruning: only epoch-0 refs (ids 0..half-1) visible
    got0 = {(r.id_new, r.id_ref)
            for r in D.embedding_dups_against_store(
                new, ref, store, "vec_id", "emb", threshold=0.98,
                max_epoch=1).collect()}
    want0 = {(a, b) for a, b, _ in want if b < half}
    assert got0 == want0 and want0  # planted pairs all sit in epoch 0


def test_embedding_store_meta_pins_params(spark, tmp_path):
    rng = random.Random(5)
    store = str(tmp_path / "emb_store")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(_vecs(rng, 4, 8))],
        "vec_id long, emb array<double>")
    D.write_embedding_store(df, store, 0, "vec_id", "emb",
                            n_bits=6, n_tables=4, seed=7)
    with pytest.raises(ValueError, match="pinned"):
        D.write_embedding_store(df, store, 1, "vec_id", "emb",
                                n_bits=6, n_tables=4, seed=8)
    with pytest.raises(ValueError, match="no embedding store"):
        D.embedding_dups_against_store(df, df, str(tmp_path / "nope"),
                                       "vec_id", "emb")
    # a caller-passed dim conflicting with the pinned one fails with
    # the store's clear error, not an opaque numpy shape error later
    with pytest.raises(ValueError, match="dim"):
        D.write_embedding_store(df, store, 1, "vec_id", "emb",
                                n_bits=6, n_tables=4, seed=7, dim=16)


# ---------------------------------------------------------------------------
# epoch-store compaction (compact_band_store / compact_embedding_store)
# ---------------------------------------------------------------------------


def _band_epochs(tmp_path, table="bands"):
    import os

    d = tmp_path / "band_store" / table
    return sorted(n for n in os.listdir(d) if n.startswith("epoch="))


def _stored_pairs(spark, store, new, **kw):
    return {(r.id_new, r.id_ref, round(r.jaccard, 12))
            for r in D.cross_dup_pairs_stored(
                new, store, "doc_id", "text", threshold=0.6,
                **kw).collect()}


def test_compact_band_store_identical_pairs(spark, tmp_path):
    """Compacting epochs [0, upto) into one partition changes NOTHING a
    probe can see: same pairs, same jaccards, same max_epoch pruning
    for watermarks at/above the compaction point; later epochs append
    as before."""
    store = _write_ref_store(spark, tmp_path,
                             [_REF[:1], _REF[1:2], _REF[2:]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    before = _stored_pairs(spark, store, new)
    before_w3 = _stored_pairs(spark, store, new, max_epoch=3)

    assert D.compact_band_store(spark, store, upto=3) is True
    assert _band_epochs(tmp_path) == ["epoch=2"]
    assert _band_epochs(tmp_path, "hashes") == ["epoch=2"]
    assert _stored_pairs(spark, store, new) == before
    assert _stored_pairs(spark, store, new, max_epoch=3) == before_w3
    # second run: nothing left to do
    assert D.compact_band_store(spark, store, upto=3) is False

    # the store still appends normally after compaction
    df = spark.createDataFrame(
        [(99, "fresh new crawl content sharing nothing with the "
              "reference corpus at all in any window")],
        "doc_id long, text string")
    D.write_band_store(df, store, 3, "doc_id", "text")
    after = _stored_pairs(spark, store, new)
    assert {(a, b) for a, b, _ in after} == {(10, 1), (12, 3), (11, 99)}


def test_compact_band_store_partial_watermark(spark, tmp_path):
    """upto below the top epoch: epochs >= upto are untouched and a
    probe at the old watermark still sees the identical reference
    set."""
    store = _write_ref_store(spark, tmp_path,
                             [_REF[:1], _REF[1:2], _REF[2:]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    before = _stored_pairs(spark, store, new)
    before_w2 = _stored_pairs(spark, store, new, max_epoch=2)
    assert D.compact_band_store(spark, store, upto=2) is True
    assert _band_epochs(tmp_path) == ["epoch=1", "epoch=2"]
    assert _stored_pairs(spark, store, new) == before
    assert _stored_pairs(spark, store, new, max_epoch=2) == before_w2


def test_compact_recovery_rolls_back_uncommitted(spark, tmp_path):
    """A crash BEFORE the commit marker leaves the store bit-identical:
    recovery scraps the tmp and the next compaction redoes the work."""
    store = _write_ref_store(spark, tmp_path, [_REF[:2], _REF[2:]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    before = _stored_pairs(spark, store, new)
    # half-written tmp, NO marker (crash mid-phase-1)
    spark.createDataFrame([(1, 2)], "band int, bhash long") \
        .write.parquet(f"{store}/_compact_tmp/bands")
    D.recover_epoch_store(spark, store, ("bands", "hashes"))
    assert _band_epochs(tmp_path) == ["epoch=0", "epoch=1"]
    assert _stored_pairs(spark, store, new) == before
    assert D.compact_band_store(spark, store, upto=2) is True
    assert _stored_pairs(spark, store, new) == before


def test_compact_recovery_rolls_forward_committed(spark, tmp_path):
    """A crash AFTER the commit marker (including between the two
    tables' swaps) completes on recovery — same pairs, one partition."""
    from cerberus_spark.plans.checkpoint import fs_delete, fs_rename

    store = _write_ref_store(spark, tmp_path, [_REF[:2], _REF[2:]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    before = _stored_pairs(spark, store, new)

    # phase 1 by hand (mirroring compact_epoch_store's writes): full
    # tmp + committed marker, no finalize
    upto = 2
    for table in ("bands", "hashes"):
        (spark.read.parquet(f"{store}/{table}")
         .filter(F.col("epoch") < upto).drop("epoch")
         .write.parquet(f"{store}/_compact_tmp/{table}"))
    spark.createDataFrame([(upto,)], "upto int") \
        .coalesce(1).write.parquet(f"{store}/_compact")
    # simulate a crash midway through phase 2: bands already swapped
    for e in range(upto):
        fs_delete(spark, f"{store}/bands/epoch={e}")
    fs_rename(spark, f"{store}/_compact_tmp/bands",
              f"{store}/bands/epoch={upto - 1}")

    D.recover_epoch_store(spark, store, ("bands", "hashes"))
    assert _band_epochs(tmp_path) == ["epoch=1"]
    assert _band_epochs(tmp_path, "hashes") == ["epoch=1"]
    assert _stored_pairs(spark, store, new) == before
    # recovery is a no-op once finished
    D.recover_epoch_store(spark, store, ("bands", "hashes"))
    assert _stored_pairs(spark, store, new) == before


def test_compact_embedding_store_identical(spark, tmp_path):
    rng = random.Random(41)
    dim = 12
    ref_rows = [(i, v) for i, v in enumerate(_vecs(rng, 12, dim))]
    new_rows = [(200 + t, [x + rng.gauss(0, 0.01) for x in ref_rows[t][1]])
                for t in range(3)]
    store = str(tmp_path / "emb_store")
    ref = spark.createDataFrame(ref_rows, "vec_id long, emb array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, emb array<double>")
    for epoch in range(3):
        D.write_embedding_store(
            spark.createDataFrame(ref_rows[epoch * 4:(epoch + 1) * 4],
                                  "vec_id long, emb array<double>"),
            store, epoch, "vec_id", "emb", n_bits=8, n_tables=8)

    def probe():
        return {(r.id_new, r.id_ref, round(r.cosine, 9))
                for r in D.embedding_dups_against_store(
                    new, ref, store, "vec_id", "emb",
                    threshold=0.98).collect()}

    before = probe()
    assert len(before) >= 3
    assert D.compact_embedding_store(spark, store, upto=3) is True
    import os

    assert sorted(os.listdir(f"{store}/buckets")) == ["epoch=2"]
    assert probe() == before


def test_store_probe_sees_epochs_appended_after_prior_probe(spark, tmp_path):
    """Regression: a probe persists its verify frame; Spark's cache
    manager substitutes cached relations by canonicalized plan (keyed
    on the scan's root path), so a LATER probe with the identical plan
    shape silently reused the pre-append listing and missed new
    epochs.  write_band_store now refreshByPath's the store root."""
    store = _write_ref_store(spark, tmp_path, [_REF[:1]])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")
    assert {(a, b) for a, b, _ in _stored_pairs(spark, store, new)} \
        == {(10, 1)}
    df = spark.createDataFrame(
        [(99, "fresh new crawl content sharing nothing with the "
              "reference corpus at all in any window")],
        "doc_id long, text string")
    D.write_band_store(df, store, 1, "doc_id", "text")
    assert {(a, b) for a, b, _ in _stored_pairs(spark, store, new)} \
        == {(10, 1), (11, 99)}


def test_band_store_probe_pinned_lifecycle(spark, tmp_path):
    store = _write_ref_store(spark, tmp_path, [_REF])
    new = spark.createDataFrame(_NEW, "doc_id long, text string")

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_cached()
    for _ in range(2):
        pinned = []
        D.cross_dup_pairs_stored(new, store, "doc_id", "text",
                                 threshold=0.6, pinned=pinned).count()
        assert pinned  # the probe handed its cached frames over
        for p in pinned:
            p.unpersist()
    assert n_cached() == base


def test_bucket_cap_guard_fallback_matches_recompute(spark, tmp_path):
    """When a touched bucket EXCEEDS the cap the occupancy guard must
    fall back to the windowed plan: pairs (incl. overflow pairing with
    the bucket head) stay identical to cross_dup_pairs with the same
    cap."""
    text = " ".join(f"tok{i}" for i in range(30))
    ref_rows = [(i, text) for i in range(9)]          # 9 > cap=4 in-bucket
    new_rows = [(100 + i, text) for i in range(7)]
    store = _write_ref_store(spark, tmp_path, [ref_rows])
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    want = {(r.id_new, r.id_ref, round(r.jaccard, 12))
            for r in D.cross_dup_pairs(new, ref, "doc_id", "text",
                                       threshold=0.9,
                                       bucket_cap=4).collect()}
    got = {(r.id_new, r.id_ref, round(r.jaccard, 12))
           for r in D.cross_dup_pairs_stored(new, store, "doc_id",
                                             "text", threshold=0.9,
                                             bucket_cap=4).collect()}
    assert got == want and got


# ---------------------------------------------------------------------------
# one flat layout per store table
# ---------------------------------------------------------------------------


def _parquet_files(root):
    """Every parquet file under ``root`` (bucket sub-dirs included)
    and the name of every directory below it."""
    import os

    files, dirs = [], []
    for d, subs, names in os.walk(root):
        dirs += subs
        files += [os.path.join(d, n) for n in names
                  if n.endswith(".parquet")]
    return files, dirs


def test_small_epoch_writes_few_flat_files(spark, tmp_path):
    """One small ingest epoch writes at most 4 parquet files per store
    table (the test session's parallelism) and no bucket sub-dirs: the
    bands and hashes through the corpus ingest, the embedding buckets
    through write_embedding_store."""
    from cerberus_spark.streaming.validate_stream import (
        corpus_ingest_foreach_batch,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(200)]
    out = str(tmp_path / "out")
    cb = corpus_ingest_foreach_batch(
        out, id_col="doc_id", text_col="text", dedup_threshold=0.6,
        record_stats=False)
    cb(spark.createDataFrame(
        [(f"d{i}", " ".join(rng.choices(vocab, k=20))) for i in range(40)],
        "doc_id string, text string"), 0)
    emb = str(tmp_path / "emb_store")
    D.write_embedding_store(
        spark.createDataFrame(list(enumerate(_vecs(rng, 40, 8))),
                              "vec_id long, emb array<double>"),
        emb, 0, "vec_id", "emb", n_bits=6, n_tables=4)

    for table in (f"{out}/band_store/bands", f"{out}/band_store/hashes",
                  f"{emb}/buckets"):
        files, dirs = _parquet_files(f"{table}/epoch=0")
        assert 1 <= len(files) <= 4, (table, len(files))
        assert dirs == [], (table, dirs)


def _old_layout_epoch(spark, src_table, dst_table, col, bucket):
    """Rewrite a flat epoch dir in the bucket-dir layout older writers
    used (``partitionBy(col)`` on a hash bucket of the row)."""
    (spark.read.parquet(src_table).withColumn(col, bucket)
     .write.partitionBy(col).parquet(dst_table))


def test_band_store_mixed_layout_reads_and_compacts(spark, tmp_path):
    """A store whose epoch 0 was written in the old bucket-dir layout
    (``pb=`` bands, ``ph=`` hashes, meta carrying the layout columns)
    and whose epoch 1 comes from the current writer probes to the same
    pairs as an all-flat store; compaction leaves no bucket dirs."""
    from cerberus_spark.plans.checkpoint import write_rows

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(40)]
    epochs = [[(e * 100 + i, " ".join(rng.choices(vocab, k=15)))
               for i in range(12)] for e in range(2)]
    flat = _write_ref_store(spark, tmp_path / "flat", epochs)
    mixed = str(tmp_path / "mixed")
    _old_layout_epoch(spark, f"{flat}/bands/epoch=0",
                      f"{mixed}/bands/epoch=0", "pb",
                      F.pmod(F.col("bhash"), F.lit(16)).cast("int"))
    _old_layout_epoch(spark, f"{flat}/hashes/epoch=0",
                      f"{mixed}/hashes/epoch=0", "ph",
                      F.pmod(F.xxhash64("_id"), F.lit(8)).cast("int"))
    write_rows(spark, f"{mixed}/meta",
               "k int, num_perm int, bands int, band_buckets int, "
               "hash_buckets int", [(3, 32, 8, 16, 8)])
    D.write_band_store(
        spark.createDataFrame(epochs[1], "doc_id long, text string"),
        mixed, 1, "doc_id", "text")
    assert any(d.startswith("pb=")
               for d in _parquet_files(f"{mixed}/bands/epoch=0")[1])
    assert _parquet_files(f"{mixed}/bands/epoch=1")[1] == []

    new = spark.createDataFrame(
        [(900, epochs[0][3][1] + " extra"), (901, epochs[1][5][1] + " x")],
        "doc_id long, text string")

    def pairs(store, **kw):
        return {(r.id_new, r.id_ref, round(r.jaccard, 12))
                for r in D.cross_dup_pairs_stored(
                    new, store, "doc_id", "text", threshold=0.5,
                    **kw).collect()}

    want = pairs(flat)
    assert {(a, b) for a, b, _ in want} >= {(900, 3), (901, 105)}
    assert pairs(mixed) == want
    assert pairs(mixed, max_epoch=1) == pairs(flat, max_epoch=1)

    assert D.compact_band_store(spark, mixed, upto=2) is True
    for table in ("bands", "hashes"):
        assert _parquet_files(f"{mixed}/{table}")[1] == ["epoch=1"]
    assert pairs(mixed) == want


def test_embedding_store_mixed_layout_reads_and_compacts(spark, tmp_path):
    """The embedding-store twin: an old ``pb=`` epoch (meta carrying
    ``pb_buckets``) beside a current-writer epoch probes like an
    all-flat store, and compaction leaves no bucket dirs."""
    from cerberus_spark.plans.checkpoint import write_rows

    rng = random.Random(29)
    dim = 12
    ref_rows = list(enumerate(_vecs(rng, 16, dim)))
    new_rows = [(200 + t, [x + rng.gauss(0, 0.01) for x in ref_rows[t][1]])
                for t in (1, 9)]
    ddl = "vec_id long, emb array<double>"
    ref = spark.createDataFrame(ref_rows, ddl)
    new = spark.createDataFrame(new_rows, ddl)
    halves = [ref_rows[:8], ref_rows[8:]]
    flat = str(tmp_path / "flat")
    for epoch, rows in enumerate(halves):
        D.write_embedding_store(spark.createDataFrame(rows, ddl), flat,
                                epoch, "vec_id", "emb", n_bits=8,
                                n_tables=8)
    mixed = str(tmp_path / "mixed")
    _old_layout_epoch(spark, f"{flat}/buckets/epoch=0",
                      f"{mixed}/buckets/epoch=0", "pb",
                      F.pmod(F.xxhash64("tbl", "bkt"), F.lit(16))
                      .cast("int"))
    write_rows(spark, f"{mixed}/meta",
               "n_bits int, n_tables int, seed int, dim int, pb_buckets int",
               [(8, 8, 42, dim, 16)])
    D.write_embedding_store(spark.createDataFrame(halves[1], ddl), mixed, 1,
                            "vec_id", "emb", n_bits=8, n_tables=8)
    assert any(d.startswith("pb=")
               for d in _parquet_files(f"{mixed}/buckets/epoch=0")[1])

    def pairs(store):
        return {(r.id_new, r.id_ref, round(r.cosine, 9))
                for r in D.embedding_dups_against_store(
                    new, ref, store, "vec_id", "emb",
                    threshold=0.98).collect()}

    want = pairs(flat)
    assert {(a, b) for a, b, _ in want} >= {(201, 1), (209, 9)}
    assert pairs(mixed) == want
    assert D.compact_embedding_store(spark, mixed, upto=2) is True
    assert _parquet_files(f"{mixed}/buckets")[1] == ["epoch=1"]
    assert pairs(mixed) == want
