"""The benchmark's two closed-loop workloads.

One client runs ops back to back; each op starts after the previous one
has committed. A workload's `setup()` generates its inputs from the seed
(query_suite reads the fixed tables in data/) and prepares its checks;
`op(i)` runs op number `i` and returns an `Op` whose `latency_s` covers
only the timed call into the program. Reading outputs
back for the correctness check happens after the timed call.

Sizes are fixed turn counts, not conversation counts: conversation
lengths are heavy-tailed, so a fixed number of conversations would give
ops of very different sizes from one seed to the next.
"""

from __future__ import annotations

import os
import random
import re
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__ as entry
from marie_ai_spark import ref_ops
from marie_ai_spark.plans import pipeline
from marie_ai_spark.plans.lineage import bucket_col
from marie_ai_spark.sources import transcripts
from marie_ai_spark.streaming import incremental
from perfbench import checks
from tools.oracle_check import value_hash

N_BUCKETS = 8
SAMPLE_TURNS = 24          # turns per run compared against ref_ops
INC_BASE_TURNS = 4000      # turns in extract_incremental's base table
REEXTRACT_TURNS = 1000     # of which in REEXTRACT_BUCKETS
DELTA_TURNS = 400          # turns per landed delta file
MERGE_BUCKETS = (0, 1)     # every correction batch touches these buckets
MERGE_TURNS_PER_BUCKET = 40
REEXTRACT_BUCKETS = [2, 3]
INC_KINDS = ("ingest", "merge", "reextract")
DELTA_CONV_BASE = 10_000_000   # delta i holds new conversations numbered
DELTA_CONV_STRIDE = 100_000    # from DELTA_CONV_BASE + i * DELTA_CONV_STRIDE
SUITE = [
    "q_hybrid_annotate",
    "q_ngram_jaccard",
    "q_curation_pipeline",
    "q_bm25",
    "q_extract_transcripts",
    "q01_pricing_summary",
]
# the repo's sf0.01 test tables (TESTDATA.md, seed 42), copied verbatim
# because a run reads only its checkout; the directory name keeps the
# builders' scale at 0.01
SUITE_TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "data", "sf0.01")
SUITE_TABLES = ("documents", "embeddings", "lineitem")

TRANSCRIPTS_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class Op:
    kind: str
    latency_s: float
    turns: int
    problems: list = field(default_factory=list)
    info: dict = field(default_factory=dict)


def cut_plan(seed: int, first_conv: int, n_turns: int) -> tuple[int, int]:
    """Conversations starting at `first_conv` that hold `n_turns` turns:
    returns (number of conversations, turns kept of the last one)."""
    total, i = 0, first_conv
    while True:
        n = transcripts.conv_length(i, seed)
        if total + n >= n_turns:
            return i - first_conv + 1, n_turns - total
        total += n
        i += 1


def corpus_pandas(seed: int, first_conv: int, n_turns: int) -> pd.DataFrame:
    n, keep = cut_plan(seed, first_conv, n_turns)
    df = transcripts.gen_pandas(n, seed, conv_offset=first_conv)
    last = transcripts.conv_id_of(first_conv + n - 1)
    return df[(df["conv_id"] != last) | (df["turn_idx"] < keep)].reset_index(drop=True)


def write_transcripts_file(pdf: pd.DataFrame, path: str) -> None:
    pdf = pdf.assign(ts=pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(pdf, schema=TRANSCRIPTS_ARROW,
                                        preserve_index=False), path)


def dataset(path: str) -> ds.Dataset:
    """A parquet table directory (hive-partitioned) opened with pyarrow,
    so checks submit no Spark jobs."""
    return ds.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=[".", "_SUCCESS", "_spark_metadata",
                                       "_temporary"])


def base_plan(spark, seed: int) -> list[tuple[int, int]]:
    """(conversation, turns kept) pairs of the base table: REEXTRACT_TURNS
    turns in the reextract buckets and the rest in the others, so every
    seed gives ops of the same size. Buckets come from the program's own
    bucket column, evaluated by Spark on the candidate conversation ids."""
    n = cut_plan(seed, 0, 3 * INC_BASE_TURNS)[0]
    ids = spark.createDataFrame(
        [(transcripts.conv_id_of(i),) for i in range(n)], "conv_id string")
    bucket = dict(ids.select("conv_id", bucket_col(N_BUCKETS)).collect())
    need = {True: REEXTRACT_TURNS, False: INC_BASE_TURNS - REEXTRACT_TURNS}
    plan = []
    for i in range(n):
        side = bucket[transcripts.conv_id_of(i)] in REEXTRACT_BUCKETS
        k = min(transcripts.conv_length(i, seed), need[side])
        if k:
            plan.append((i, k))
            need[side] -= k
        if not any(need.values()):
            return plan
    raise RuntimeError(f"seed {seed}: too few candidate turns for the base table")


def read_table(path: str, columns=None, filter=None) -> pd.DataFrame:
    return dataset(path).to_table(columns=columns, filter=filter).to_pandas()


def bucket_checksums(spark, input_path: str) -> tuple[dict, dict]:
    """Per-bucket turn count and key checksum of an input table, computed
    the way lineage defines them (sum of xxhash64(conv_id, turn_idx))."""
    rows = (
        spark.read.parquet(input_path)
        .withColumn("_bucket", bucket_col(N_BUCKETS))
        .groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)"))
             .cast("string").alias("checksum"))
        .collect()
    )
    return ({r["_bucket"]: r["n"] for r in rows},
            {r["_bucket"]: r["checksum"] for r in rows})


def kernel_sample(input_path: str, seed: int, convs=None) -> dict:
    """A fixed seeded sample of input turns (of the given conversations)
    and their ref_ops outputs."""
    df = read_table(input_path, ["conv_id", "turn_idx", "text"])
    if convs is not None:
        df = df[df.conv_id.isin(convs)]
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    picks = random.Random(seed).sample(range(len(df)), SAMPLE_TURNS)
    return {
        (df.conv_id[i], int(df.turn_idx[i])): ref_ops.extract_turn(df.text[i])
        for i in picks
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files if not f.startswith((".", "_"))
    )


def lineage_files(out_dir: str) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(f"{out_dir}/lineage"))


class Workload:
    name = ""
    warmup_ops = 0
    unit_ops = 1      # ops per unit that op_p50_s reports on
    input_bytes = 0   # bytes of the input run_extract reads, if any

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.gen_s = 0.0
        self.problems: list[str] = []  # failed set-up checks
        os.makedirs(root, exist_ok=True)

    def timed(self, i: int, fn, *args, **kwargs):
        """Run one call into the program as op `i`: tagged in a traced
        run, timed always. Returns (result, seconds)."""
        self.tracer.op = i
        with self.tracer.tag(self.spark, f"pb-op-{i}"):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, time.perf_counter() - t0


class ExtractIncremental(Workload):
    """Ops rotate ingest -> merge -> reextract over one bucketed table."""

    name = "extract_incremental"
    unit_ops = len(INC_KINDS)
    # rotation times keep falling for several rotations; a slow run fits
    # fewer rotations in the window, so an unfinished trend widens the spread
    warmup_ops = 4 * unit_ops

    def setup(self) -> None:
        r = self.root
        self.base, self.table = f"{r}/base", f"{r}/table"
        self.landing, self.staging = f"{r}/landing", f"{r}/staging"
        self.sink, self.ckpt = f"{r}/sink", f"{r}/checkpoint"
        for d in (self.landing, self.staging):
            os.makedirs(d)
        t0 = time.perf_counter()
        rows = [transcripts.gen_turn(c, t, self.seed)
                for c, k in base_plan(self.spark, self.seed) for t in range(k)]
        os.makedirs(self.base)
        write_transcripts_file(pd.DataFrame(rows), f"{self.base}/part-0.parquet")
        self.gen_s = time.perf_counter() - t0
        self.counts, self.checksums = bucket_checksums(self.spark, self.base)
        res = pipeline.run_extract(self.spark, self.base, self.table,
                                   run_id="base", n_buckets=N_BUCKETS)
        self.extracted = read_table(f"{self.table}/extracted")
        self.problems = checks.extract_run(
            res, INC_BASE_TURNS, self.lineage("base"), self.checksums,
            self.extracted, kernel_sample(self.base, self.seed))
        rebuilt = self.extracted[self.extracted._bucket.isin(REEXTRACT_BUCKETS)]
        self.sample = kernel_sample(self.base, self.seed, set(rebuilt.conv_id))
        # Spark writes INT96 timestamps, which pyarrow reads as naive
        # nanoseconds; corrections are written as UTC microseconds
        schema = dataset(f"{self.table}/extracted").schema
        schema = schema.remove(schema.get_field_index("_bucket"))
        self.extracted_schema = schema.set(
            schema.get_field_index("ts"), pa.field("ts", pa.timestamp("us", tz="UTC")))
        convs = (self.extracted.groupby(["_bucket", "conv_id"]).size()
                 .rename("n").reset_index()
                 .sort_values(["n", "conv_id"], ascending=[False, True]))
        self.merge_pool = {b: list(convs[convs._bucket == b].conv_id)
                           for b in MERGE_BUCKETS}
        self.merge_sizes = {b: dict(zip(convs[convs._bucket == b].conv_id,
                                        convs[convs._bucket == b].n))
                            for b in MERGE_BUCKETS}
        self.landed: dict[int, dict] = {}
        self.input_bytes = dir_bytes(self.base)

    def op(self, i: int) -> Op:
        return getattr(self, INC_KINDS[i % len(INC_KINDS)])(i)

    def ingest(self, i: int) -> Op:
        pdf = corpus_pandas(self.seed, DELTA_CONV_BASE + i * DELTA_CONV_STRIDE,
                            DELTA_TURNS)
        staged = f"{self.staging}/delta-{i:05d}.parquet"
        write_transcripts_file(pdf, staged)
        self.landed[i] = {"turns": len(pdf), "convs": set(pdf.conv_id)}

        def land_and_drain():
            os.rename(staged, f"{self.landing}/delta-{i:05d}.parquet")
            return incremental.stream_extract(self.spark, self.landing,
                                              self.sink, self.ckpt)

        q, dt = self.timed(i, land_and_drain)
        problems = checks.sink_exactly_once(
            read_table(self.sink, ["conv_id"]).conv_id, self.landed)
        progress = [p["durationMs"] for p in q.recentProgress]
        return Op("ingest", dt, DELTA_TURNS, problems, {"progress": progress})

    def corrections(self, i: int) -> pd.DataFrame:
        """MERGE_TURNS_PER_BUCKET turns from the longest conversations of
        each merge bucket (rotating with i), with corrected text."""
        parts = []
        for b in MERGE_BUCKETS:
            pool = self.merge_pool[b]
            k = i % len(pool)
            chosen = pool[k:] + pool[:k]
            sizes = self.merge_sizes[b]
            need, take = MERGE_TURNS_PER_BUCKET, []
            for c in chosen:
                take.append(c)
                need -= sizes[c]
                if need <= 0:
                    break
            rows = self.extracted[self.extracted.conv_id.isin(take)]
            order = {c: n for n, c in enumerate(take)}
            rows = rows.assign(_o=rows.conv_id.map(order)).sort_values(
                ["_o", "turn_idx"]).head(MERGE_TURNS_PER_BUCKET)
            parts.append(rows.drop(columns=["_o"]))
        fixed = pd.concat(parts, ignore_index=True).drop(columns=["_bucket"])
        fixed["ts"] = fixed["ts"].dt.tz_localize("UTC")
        fixed["clean_text"] = fixed["clean_text"] + f" [corrected {i}]"
        return fixed

    def merge(self, i: int) -> Op:
        fixed = self.corrections(i)
        path = f"{self.staging}/corrections-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(fixed, schema=self.extracted_schema,
                                            preserve_index=False), path)
        updates = self.spark.read.parquet(path)
        touched, dt = self.timed(i, pipeline.merge_extracted, self.spark,
                                 self.table, updates, n_buckets=N_BUCKETS)
        keys = fixed[["conv_id", "turn_idx"]]
        back = (pipeline.read_extracted(self.spark, self.table)
                .join(self.spark.createDataFrame(keys), ["conv_id", "turn_idx"])
                .select("conv_id", "turn_idx", "clean_text").toPandas())
        problems = checks.merged_values(back, fixed)
        if touched != len(MERGE_BUCKETS):
            problems.append(f"merge touched {touched} buckets")
        info = {"buckets_touched": touched,
                "corrected_bytes": os.path.getsize(path)}
        return Op("merge", dt, len(fixed), problems, info)

    def lineage(self, run_id: str) -> pd.DataFrame:
        rows = read_table(f"{self.table}/lineage")
        return rows[rows.run_id == run_id]

    def reextract(self, i: int) -> Op:
        res, dt = self.timed(i, pipeline.run_extract, self.spark, self.base,
                             self.table, run_id=f"re-{i}", n_buckets=N_BUCKETS,
                             buckets=REEXTRACT_BUCKETS)
        got = read_table(f"{self.table}/extracted",
                         ["_bucket", "conv_id", "turn_idx", "clean_text", "spans"],
                         ds.field("_bucket").isin(REEXTRACT_BUCKETS))
        expected = {b: self.counts[b] for b in REEXTRACT_BUCKETS}
        problems = checks.bucket_counts(got._bucket.value_counts().to_dict(), expected)
        problems += checks.extract_run(
            res, sum(expected.values()), self.lineage(f"re-{i}"),
            {b: self.checksums[b] for b in REEXTRACT_BUCKETS}, got, self.sample)
        info = {"lineage_files": lineage_files(self.table)}
        return Op("reextract", dt, res["rows_out"], problems, info)

    def map_input(self):
        """The input a reextract op maps: its buckets of the base table."""
        df = self.spark.read.parquet(self.base)
        return (df.filter(bucket_col(N_BUCKETS).isin(REEXTRACT_BUCKETS)),
                sum(self.counts[b] for b in REEXTRACT_BUCKETS))


class QuerySuite(Workload):
    """Each op is one pass over SUITE: build, then materialize with the
    noop sink, clearing the cache between queries."""

    name = "query_suite"
    warmup_ops = 0  # the cold oracle pass in setup() is the warm-up

    def setup(self) -> None:
        import duckdb

        self.tables = SUITE_TABLES_DIR
        # oracle constants derived from the data read the same tables, not
        # the default directory outside the checkout
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.tables
        self.builders = entry.queries()
        fixtures = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)),
                                "fixtures")
        sqls = entry.oracle_sql()
        con = duckdb.connect()
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        self.digests, self.turns = {}, 0
        for q in SUITE:
            df = self.builders[q](self.spark, self.tables)
            obs = Observation(f"pb_{q}_oracle")
            rows = [tuple(r) for r in df.observe(obs, *self._digest_cols(df)).collect()]
            res = con.sql(re.sub(r"read_parquet\('[^']*/fixtures/",
                                 f"read_parquet('{fixtures}/", sqls[q]))
            drows = res.fetchall()
            self.problems += checks.query_result(
                q, value_hash(rows, df.columns), value_hash(drows, res.columns),
                len(rows), len(drows))
            self.digests[q] = obs.get
            if q == "q_extract_transcripts":
                self.turns = len(rows)
            self.spark.catalog.clearCache()
        con.close()

    @staticmethod
    def _digest_cols(df):
        return (F.count(F.lit(1)).alias("rows"),
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                .cast("string").alias("hash"))

    def op(self, i: int) -> Op:
        per, problems, total = {}, [], 0.0
        self.tracer.op = i
        with self.tracer.tag(self.spark, f"pb-op-{i}"):
            for q in SUITE:
                with self.tracer.tag(self.spark, f"pb-op-{i}-{q}"):
                    obs = Observation(f"pb_{q}_{i}")
                    t0 = time.perf_counter()
                    df = self.builders[q](self.spark, self.tables)
                    t1 = time.perf_counter()
                    df.observe(obs, *self._digest_cols(df)).write.format(
                        "noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                self.spark.catalog.clearCache()
                problems += checks.same_digest(q, obs.get, self.digests[q])
                per[q] = (t1 - t0, t2 - t1)
                total += t2 - t0
        return Op("pass", total, self.turns, problems, {"queries": per})

    def map_input(self):
        return None, 0


WORKLOADS = {w.name: w for w in (ExtractIncremental, QuerySuite)}
