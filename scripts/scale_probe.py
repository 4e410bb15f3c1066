"""N→4N parallelism probe: one driver over a table of job families.

    python scripts/scale_probe.py <family>

Families: ``textops`` (decontamination, repetition, surprisal, mixture
resampling), ``pipeline`` (PII scrub, split, tail, packing),
``temporal`` (asof join, sessionize, sequence grammar, range join),
``newops`` (BM25 flat and indexed, DSIR, chunking), ``embedding``
(exact and IVF top-k, embedding near-dups at dim 768) and ``fullpass``
(the compiled validation projection and ``ValidationRun.execute`` over
the transcripts generator).

Each level in ``PROBE_LEVELS`` (default: a quarter of the host's CPUs,
then all of them) runs in its own subprocess with
``SPARK_GRAFT_CPUS=<level>``, so every level is a fresh ``local[N]`` JVM
that sees N processors.  A level builds the family's input (``synth``),
then times each job: one warm-up, then ``PROBE_REPS`` reps (default 2),
best wall kept.  ``PROBE_ROWS`` sets the input size (default per
family).  Per rep, Spark's event log (``perfbench/eventlog.py``) gives
executor CPU and run time, Python-worker time, jobs and stages: CPU
seconds do not move with co-tenant preemption, so cpu(N) ≈ cpu(4N)
shows the work is conserved and the wall/CPU gap is stall time.

Results are written after every level to
``BENCH/<family>_scale_probe.json`` with the efficiency of every
measured (N, 4N) pair, (rows/s at 4N ÷ rows/s at N) / 4; ``fullpass``
writes one ``BENCH/scaling_<sf>_c<N>.json`` per level instead (read by
``scripts/scaling_bench.py``).  ``--one-level`` runs one level at
``SPARK_GRAFT_CPUS`` (or the host's CPUs) and prints its JSON line.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import common, eventlog  # noqa: E402

#: where ``fullpass`` caches its generated transcripts
DATA_DIR = os.path.join(REPO, ".data")
SF_ROWS = {"sf0.01": 60_000, "sf0.1": 600_000, "sf1": 6_000_000,
           "sf10": 60_000_000}


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _repin(spark, data):
    """Drop every cached frame and re-pin the inputs: jobs that persist
    per call must not leave cached copies to later reps."""
    spark.catalog.clearCache()
    for df in data.values():
        df.persist().count()


# ---------------------------------------------------------------------------
# textops and newops: a hash-derived 50k-type vocabulary corpus
# ---------------------------------------------------------------------------


def _text_corpus(spark, n):
    """(doc_id, text, domain): hash-derived words — deterministic,
    partitioning-invariant, no driver-side data."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.col("id"))
    n_words = (F.lit(10) + F.pmod(h, F.lit(41))).cast("int")
    # word_j = md5 prefix of a 50k-type id; the transform HOF is slow
    # (CodegenFallback) but runs ONCE into the persisted synth table
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.substring(
            F.md5(F.pmod(h + j * F.lit(2654435761),
                         F.lit(50_000)).cast("string")), 1, 8))
    dom = F.pmod(h, F.lit(100))
    domain = (F.when(dom < 60, "web").when(dom < 85, "code")
              .when(dom < 95, "books").otherwise("wiki"))
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
        domain.alias("domain"))


def textops_synth(spark, n):
    """The corpus plus a ~0.1% benchmark slice for decontamination."""
    from pyspark.sql import functions as F

    docs = _text_corpus(spark, n).persist()
    docs.count()
    bench = docs.filter(F.col("doc_id") % 1009 == 0).persist()
    bench.count()
    return {"docs": docs, "bench": bench}


def textops_jobs(spark, d):
    from cerberus_spark.functions import decontam as DC
    from cerberus_spark.functions import repetition as R
    from cerberus_spark.functions import surprisal as SP
    from cerberus_spark.operators import pipeline as P

    docs, bench = d["docs"], d["bench"]
    return {
        # broadcast gram probe + one tiny count shuffle (production
        # path: the gram frame persists, so the Arrow shingler runs
        # once per pass instead of 3x)
        "contamination": lambda: _noop(DC.contamination_report(
            docs, bench, "doc_id", "text", n=3)),
        # stateless Arrow projection — the linear-scaling floor
        "repetition": lambda: _noop(R.repetition_report(
            docs, top_ns=(2, 3, 4), dup_ns=(5, 10))),
        # vocab shuffle + (doc,tok) agg + model join
        "surprisal": lambda: _noop(SP.surprisal_report(docs)),
        # two tiny aggs + broadcast rate join
        "mixture_resample": lambda: _noop(P.mixture_resample(
            docs, "domain", "doc_id", temperature=2.0, seed="probe")),
    }


#: BM25 query terms = synth vocabulary members (md5 prefixes of the
#: type id), computed driver-side with the same hash
TERMS = [hashlib.md5(str(k).encode()).hexdigest()[:8]
         for k in (7, 1234, 49_999)]


def newops_synth(spark, n):
    """The corpus plus its ``wiki`` slice as the DSIR target."""
    from pyspark.sql import functions as F

    docs = _text_corpus(spark, n).persist()
    docs.count()
    target = docs.filter(F.col("domain") == "wiki").persist()
    target.count()
    return {"docs": docs, "target": target}


def newops_jobs(spark, d):
    """The BM25 pair is the contrast: the flat path re-tokenizes the
    corpus per query (scan-bound), the indexed query reads only its
    terms' posting-list partitions, so its wall should not grow with
    the corpus.  ``index_build`` is the one-time cost it amortizes."""
    from cerberus_spark.functions import dsir as DS
    from cerberus_spark.functions import ranking as RK
    from cerberus_spark.operators import pipeline as P

    docs, target = d["docs"], d["target"]
    idx = tempfile.mkdtemp(prefix="nprobe_idx_")
    return {
        # two corpus scans (stats row + scoring projection), 1-row
        # broadcast, TakeOrderedAndProject — the per-query flat cost
        "bm25_flat": lambda: _noop(RK.bm25_topk(
            docs, "doc_id", "text", TERMS, k=10)),
        # one tokenize+explode shuffle into term-bucketed parquet
        "index_build": lambda: RK.write_text_index(
            docs, idx, "doc_id", "text"),
        # pruned posting-list scan + tiny broadcasts + one candidate
        # exchange
        "bm25_indexed_query": lambda: _noop(RK.bm25_topk_indexed(
            spark, idx, TERMS, k=10)),
        # Arrow featurize (uni+bi md5 buckets) + ≤10k-row broadcast
        # ratio + one int exchange on doc_id
        "dsir_weights": lambda: _noop(DS.dsir_report(
            docs, target, "doc_id", "text")),
        # stateless JVM projection — the linear floor
        "chunk": lambda: _noop(P.chunk_documents(
            docs, chunk_tokens=32, overlap=8)),
    }


# ---------------------------------------------------------------------------
# pipeline: a transcripts-shaped table with planted PII
# ---------------------------------------------------------------------------

TURNS_PER_CONV = 20


def pipeline_synth(spark, n):
    """(conv_id, turn_idx, text): 20 turns per conversation, 10-50
    hash-derived words per turn, PII planted on ~6% of turns so the
    scrub chain does real work."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.col("id"))
    word = F.substring(F.md5(F.col("id").cast("string")), 1, 8)
    base_text = F.repeat(
        F.concat(word, F.lit(" ")),
        (F.lit(10) + F.pmod(h, F.lit(41))).cast("int"),
    )
    text = F.when(
        F.pmod(h, F.lit(17)) == 0,
        F.concat(base_text,
                 F.lit("user@example.com 10.1.2.3 call 415-555-0133")),
    ).otherwise(base_text)
    ev = spark.range(n).select(
        F.concat(F.lit("c-"), (F.col("id") / TURNS_PER_CONV)
                 .cast("long").cast("string")).alias("conv_id"),
        F.pmod(F.col("id"), F.lit(TURNS_PER_CONV)).cast("int")
        .alias("turn_idx"),
        text.alias("text"),
    ).persist()
    ev.count()  # materialize once so walls measure the operator, not synth
    return {"ev": ev}


def pipeline_jobs(spark, d):
    from pyspark.sql import functions as F

    from cerberus_spark.functions import pii
    from cerberus_spark.operators import pipeline as P

    ev = d["ev"]
    sig = pii.pii_signals(F.col("text"))
    return {
        # stateless projections — the linear-scaling floor
        "redact_pii": lambda: _noop(ev.select(
            "conv_id", "turn_idx",
            *[c.alias(k) for k, c in sig.items()])),
        "split_assign": lambda: _noop(
            P.split_assign(ev, "conv_id", seed="probe")),
        # one window exchange
        "tail_turns": lambda: _noop(
            P.tail_turns(ev, "conv_id", "turn_idx", k=8)),
        # window exchange + Arrow applyInPandas greedy scan
        "pack_sequences": lambda: _noop(
            P.pack_sequences(ev, "conv_id", "turn_idx", "text",
                             budget=512)),
    }


# ---------------------------------------------------------------------------
# temporal: an events table over 90 days
# ---------------------------------------------------------------------------

SPAN_SEC = 90 * 24 * 3600
#: events per user (5,000 users at 10M rows)
EVENTS_PER_USER = 2_000


def temporal_synth(spark, n):
    from pyspark.sql import functions as F

    n_users = max(1, n // EVENTS_PER_USER)
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    h = F.xxhash64(F.col("id"))
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(h, F.lit(n_users)).alias("user_id"),
        (base + F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(SPAN_SEC))
            .cast("double"),
        )).alias("ts"),
        F.when(F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(5)) == 0,
               F.lit("purchase")).otherwise(F.lit("view"))
        .alias("event_type"),
        F.element_at(
            F.array(F.lit("system"), F.lit("user"), F.lit("assistant"),
                    F.lit("tool")),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(4)) + 1)
            .cast("int"),
        ).alias("role"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(10_000)) / 100.0
         ).alias("value"),
    ).persist()
    ev.count()  # materialize once so walls measure the operator, not synth
    return {"ev": ev}


def temporal_jobs(spark, d):
    from pyspark.sql import functions as F

    from cerberus_spark.operators.sequence import sequence_violations
    from cerberus_spark.operators.temporal import asof_join, range_join, sessionize

    ev = d["ev"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL '1' HOUR")).alias("w_end"),
        F.col("event_id").alias("purchase_id"),
    )
    return {
        "asof_join": lambda: _noop(
            asof_join(
                ev.select("event_id", "user_id", "ts"), purchases,
                on="user_id", left_ts="ts", right_ts="ts",
                payload=["value"], strict=True,
            )
        ),
        "sessionize": lambda: _noop(
            sessionize(ev, "user_id", "ts", 900.0, order_tie="event_id")
        ),
        # grammar rules in one window pass; random roles make ~40% of
        # transitions illegal, so this measures dense violation emit
        # (contiguous is off: global event_ids are never per-key dense,
        # which would make 100% of rows emit and measure only the sink)
        "sequence_grammar": lambda: _noop(
            sequence_violations(
                ev, conv_col="user_id", idx_col="event_id", role_col="role",
                ts_col="ts", first_roles=["system"],
                transitions={"system": ["user"],
                             "user": ["assistant", "tool", "system"],
                             "assistant": ["user", "system"],
                             "tool": ["user", "system"]},
                monotone_ts=True,
            )
        ),
        # 1h windows / 1h buckets: explode factor 2
        "range_join": lambda: _noop(
            range_join(
                ev.select("event_id", "user_id", "ts"), windows,
                on="user_id", left_ts="ts", right_start="w_start",
                right_end="w_end", payload=["purchase_id"],
                bucket_sec=3600.0,
            )
        ),
    }


# ---------------------------------------------------------------------------
# embedding: dim-768 vectors with planted near-copies
# ---------------------------------------------------------------------------

DIM = 768


def _gen_matrix(ids, dim):
    """(len(ids), dim) float32 in [-1, 1): splitmix64(id*dim + j) —
    deterministic, partition/order invariant, vectorized."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.uint64)
    j = np.arange(dim, dtype=np.uint64)[None, :]
    x = ids[:, None] * np.uint64(dim) + j
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        z = x
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return ((z >> np.uint64(11)).astype(np.float64)
            / float(1 << 53) * 2.0 - 1.0).astype(np.float32)


def embedding_synth(spark, n):
    """(vec_id, embedding array<float>) with ~1% planted near-copies
    (id % 97 == 1 → vec(id-1) + 0.05·vec(id)) so the LSH verify join has
    real work."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    dim = DIM

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _vec(s: pd.Series) -> pd.Series:
        ids = s.to_numpy(dtype=np.int64)
        base = _gen_matrix(ids, dim)
        near = ids % 97 == 1
        if near.any():
            base[near] = (_gen_matrix(ids[near] - 1, dim)
                          + 0.05 * base[near])
        return pd.Series(list(base))

    docs = spark.range(n).select(
        F.col("id").alias("vec_id"), _vec(F.col("id")).alias("embedding")
    ).persist()
    docs.count()
    return {"docs": docs, "n_rows": n}


def embedding_jobs(spark, d):
    from cerberus_spark.functions import dedup as DD
    from cerberus_spark.functions import similarity as S

    docs, n_rows = d["docs"], d["n_rows"]
    q = _gen_matrix([999_999_999], DIM)[0]
    cent = S.train_centroids(docs, "embedding", n_cells=64, seed=7)
    return {
        # Arrow matmul full scan + driver top-k merge — the exact path
        "brute_topk": lambda: _noop(S.brute_force_topk(
            docs, "embedding", q, k=10, id_col="vec_id")),
        # Arrow cell assign + partition-local rerank of ~nprobe/64 of
        # the corpus
        "ivf_topk": lambda: _noop(S.ivf_topk(
            docs, "embedding", q, cent, k=10, id_col="vec_id",
            nprobe=4)),
        # corpus-sized bucket space (auto_bits: ceil(log2(1M))+4 = 24
        # bits — the 12-bit default piles ~244 random vectors into every
        # bucket at n=1M and the exact verify explodes to ~3e8 capped
        # pairs); planted 0.05-noise copies (cos≈0.9988, θ≈2.8°) still
        # collide per table with p≈0.984^24≈0.68 → 4-table recall ≈ 0.99
        "near_dups": lambda: _noop(DD.embedding_near_dups(
            docs, "vec_id", "embedding", threshold=0.95, dim=DIM,
            n_bits=S.auto_bits(n_rows))),
    }


# ---------------------------------------------------------------------------
# fullpass: the transcripts rule-set, compute phase and full pass
# ---------------------------------------------------------------------------


def _sf(n_rows):
    return next((sf for sf, n in SF_ROWS.items() if n == n_rows),
                f"n{n_rows}")


def fullpass_synth(spark, n):
    """The seed-42 transcripts generator's tables (one hot
    conversation), cached under ``DATA_DIR``."""
    from cerberus_spark.sources.transcripts import ensure_dataset, load

    data_dir = os.path.join(DATA_DIR, f"transcripts_{_sf(n)}")
    ensure_dataset(data_dir, n, seed=42)
    turns, conversations = load(spark, data_dir)
    return {"turns": turns, "conversations": conversations, "n_rows": n}


def fullpass_jobs(spark, d):
    """``compute``: the compiled validation projection + aggregate, the
    data-proportional work.  ``full``: ``ValidationRun.execute`` (rules,
    uniqueness, referential, ordering, drift, checkpointed writes) with
    ``n_parts`` fixed across levels — the cluster scales, not the job.
    The full pass runs up to sf1 (6M turns); larger inputs time the
    compute phase only."""
    from pyspark.sql import functions as F

    from cerberus_spark.run import RunConfig, ValidationRun
    from cerberus_spark.sources.transcripts import TURN_SCHEMA

    t_df, c_df = d["turns"], d["conversations"]
    validator = ValidationRun(
        TURN_SCHEMA, RunConfig(out_dir=tempfile.gettempdir())).validator

    def compute():
        validator.annotate(t_df).agg(
            F.sum((~F.col("passed")).cast("long"))
        ).collect()

    def full():
        out_dir = tempfile.mkdtemp(prefix="cerb_scale_")
        rep = ValidationRun(
            TURN_SCHEMA,
            RunConfig(out_dir=out_dir, n_parts=64, resume=False),
        ).execute(t_df, c_df)
        shutil.rmtree(out_dir, ignore_errors=True)
        return {"n_failed": rep.n_failed}

    if d["n_rows"] > SF_ROWS["sf1"]:
        return {"compute": compute}
    return {"compute": compute, "full": full}


# ---------------------------------------------------------------------------
# the driver
# ---------------------------------------------------------------------------


class Family(NamedTuple):
    synth: Callable  # (spark, n_rows) -> {name: DataFrame}
    jobs: Callable  # (spark, data) -> {job name: thunk}
    rows: int  # default PROBE_ROWS
    reset: Callable = lambda spark, data: None  # after every run
    conf: dict = {}  # Spark settings beyond the shared ones


FAMILIES = {
    "textops": Family(textops_synth, textops_jobs, 1_000_000, _repin),
    "pipeline": Family(pipeline_synth, pipeline_jobs, 10_000_000),
    "temporal": Family(temporal_synth, temporal_jobs, 10_000_000),
    "newops": Family(newops_synth, newops_jobs, 1_000_000, _repin),
    # 10k-row Arrow batches at dim 768 measured 2.6x slower end to end
    # than 2k batches (30 MB batches stop pipelining): ~6 MB batches
    "embedding": Family(embedding_synth, embedding_jobs, 1_000_000, conf={
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048"}),
    # the transcripts parquet dictionary-compresses ~10:1, so bytes
    # under-estimate rows: 4m splits give sf10 (623 MB, 60M rows) ~160
    # scan tasks
    "fullpass": Family(fullpass_synth, fullpass_jobs, SF_ROWS["sf1"], conf={
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m"}),
}


def session(cpus, event_log_dir, conf):
    """``local[cpus]`` with the JVM sized for a ``cpus``-core node
    (``ActiveProcessorCount`` sizes its GC, JIT and Netty pools), half
    the host's RAM as heap, and Spark's uncompressed event log on (the
    UI stays off)."""
    from pyspark.sql import SparkSession

    heap_mb = common.host_ram_bytes() // 2 // 2**20
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName(f"scale_probe_{cpus}")
         .config("spark.driver.memory", f"{heap_mb}m")
         .config("spark.driver.extraJavaOptions",
                 f"-XX:ActiveProcessorCount={cpus}")
         .config("spark.sql.shuffle.partitions", str(cpus * 2))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.compress", "false")
         .config("spark.eventLog.dir", "file://" + event_log_dir))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timing(log, windows, n_rows, result):
    """Per-rep wall and event-log counters, the best (lowest-wall) rep
    and its throughput."""
    reps = []
    for t0, t1 in windows:
        c = log.counters(t0, t1)
        reps.append({"wall_s": round(t1 - t0, 3),
                     **{k: round(c[k], 3)
                        for k in ("cpu_s", "run_s", "python_worker_s")},
                     "jobs": c["jobs"], "stages": c["stages"]})
    i = min(range(len(windows)), key=lambda i: windows[i][1] - windows[i][0])
    out = {"reps": reps, "best": reps[i],
           "rows_per_sec": round(n_rows / (windows[i][1] - windows[i][0]))}
    if result is not None:
        out["result"] = result
    return out


def run_level(family, n_rows, reps):
    """One level in this process: synth, then per job a warm-up and
    ``reps`` timed runs; counters are read from the event log after the
    session (and its JVM) has stopped."""
    fam = FAMILIES[family]
    cpus = common.host_cpus()
    work = tempfile.mkdtemp(prefix=f"scale_probe_{family}_")
    tempfile.tempdir = work  # the jobs' scratch dirs go with the level
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir)
    try:
        spark = session(cpus, evdir, fam.conf)
        data = fam.synth(spark, n_rows)
        windows, results = {}, {}
        for name, job in fam.jobs(spark, data).items():
            job()  # warm-up (codegen/JIT/Arrow worker spin-up)
            fam.reset(spark, data)
            windows[name] = []
            for _ in range(reps):
                t0 = time.time()
                results[name] = job()
                windows[name].append((t0, time.time()))
                fam.reset(spark, data)
        common.stop_jvm()  # flushes and closes the event log
        log = eventlog.EventLog(eventlog.read_events(evdir))
        timings = {name: _timing(log, w, n_rows, results[name])
                   for name, w in windows.items()}
    finally:
        common.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return {"cpus": cpus, "n_rows": n_rows, "timings": timings}


def _spawn(family, cpus, n_rows, reps):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               PROBE_ROWS=str(n_rows), PROBE_REPS=str(reps),
               # Python workers import cerberus_spark (pickled UDFs) too
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), family, "--one-level"],
        env=env, capture_output=True, text=True, timeout=5400)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode or not lines:
        raise RuntimeError(f"{family} level cpus={cpus} failed:\n"
                           f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def efficiency(levels):
    """(rows/s at 4N ÷ rows/s at N) / 4 per job, for every measured
    (N, 4N) pair."""
    effs = {}
    for c in sorted(int(k) for k in levels):
        lo, hi = levels[str(c)]["timings"], levels.get(str(4 * c))
        if hi is not None:
            effs[f"{c}_to_{4 * c}"] = {
                job: round(hi["timings"][job]["rows_per_sec"]
                           / t["rows_per_sec"] / 4, 3)
                for job, t in lo.items() if job in hi["timings"]}
    return effs


def probe(family, levels, n_rows, reps):
    """Run each level in its own subprocess, writing the results
    through after every level (a level that dies does not discard the
    ones before it).  Levels recorded earlier at the same ``n_rows``
    are kept.  Returns ``{"levels", "efficiency"}``."""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", f"{family}_scale_probe.json")
    done = {}
    if family != "fullpass" and os.path.exists(path):
        with open(path) as f:
            done = {k: v for k, v in json.load(f).get("levels", {}).items()
                    if v.get("n_rows") == n_rows}
    for cpus in levels:
        done[str(cpus)] = _spawn(family, cpus, n_rows, reps)
        out = {"levels": done, "efficiency": efficiency(done)}
        if family == "fullpass":
            path = os.path.join(
                REPO, "BENCH", f"scaling_{_sf(n_rows)}_c{cpus}.json")
            out = done[str(cpus)]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
    return {"levels": done, "efficiency": efficiency(done)}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("family", choices=sorted(FAMILIES))
    p.add_argument("--one-level", action="store_true",
                   help="run one level at SPARK_GRAFT_CPUS and print it")
    args = p.parse_args(argv)
    n_rows = int(os.environ.get("PROBE_ROWS", FAMILIES[args.family].rows))
    reps = int(os.environ.get("PROBE_REPS", 2))
    if args.one_level:
        print(json.dumps(run_level(args.family, n_rows, reps)))
        return
    host = common.host_cpus()
    levels = [int(c) for c in os.environ.get(
        "PROBE_LEVELS", f"{max(1, host // 4)},{host}").split(",")]
    print(json.dumps(probe(args.family, levels, n_rows, reps), indent=1))


if __name__ == "__main__":
    main()
