"""The two workloads: a checkpointed, resumed crawl and the curation suite.

Each workload has a set-up (what a user pays before the first unit of
work), a job (one client, closed loop: each public call is made after the
previous one returned) and a correctness check run outside the timed
window.  Only public entry points are called; per-round figures come from
what the program already reports (``CrawlResult.metrics`` laps and counts,
the work dir on disk).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.queries import ORACLE, QUERIES
from abwcf_spark.session import get_spark
from abwcf_spark.testing.compare import assert_crawl_equal
from abwcf_spark.testing.oracle import crawl_oracle

from loadgen import DEEP_CFG, CrawlInputs

# the laps CrawlResult.metrics records per round, in round order
LAPS = ("t_cand", "t_robots", "t_insert", "t_select", "t_commit")
# the deep crawl stops after round STOP_AFTER (checkpointed at round
# STOP_AFTER + 1 by the interval) and a fresh crawler resumes it
STOP_AFTER = 0
CHECKPOINT_INTERVAL = 1

# the curation suite, in run order; export_roundtrip ends in the export sink
CURATE_QUERIES = (
    "dedup_exact_documents",
    "minhash_lsh_candidates",
    "near_dup_clusters",
    "doc_fingerprint_winnow",
    "dup_span_strip",
    "ngram_decontaminate",
    "phash_bytes_chain_pairs",
    "export_roundtrip",
)


def start_session(cpus: int, conf: dict):
    """The session every set-up starts, plus the Python-worker warm-up job
    (each worker pays its pandas/pyarrow import on first use)."""
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    warm = F.pandas_udf(lambda x: x, "long")
    spark.range(0, 100_000, 1, cpus).select(F.count(warm(F.col("id")))).collect()
    return spark


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def round_walls(metrics: list) -> list[float]:
    return [sum(m.get(k, 0.0) for k in LAPS) for m in metrics]


@dataclass
class JobResult:
    wall_s: float
    items: int             # fetched URLs, or input documents
    attempted: int         # operations: fetched URLs, or queries run
    failed: int
    steps: list            # (name, seconds) per round or per query
    extra: dict = field(default_factory=dict)


# ----------------------------------------------------------------- deep_crawl
class DeepCrawl:
    name = "deep_crawl"

    def __init__(self, inputs: CrawlInputs, work_root: str, collect_metrics: bool):
        self.inputs = inputs
        self.work_root = work_root
        self.collect_metrics = collect_metrics
        self.n_jobs = 0
        self.crawler = None
        self.result = None

    def _tables(self, spark):
        p = self.inputs.paths
        return (spark.read.parquet(p["corpus"]), spark.read.parquet(p["robots"]),
                spark.read.parquet(p["seeds"]))

    def _crawler(self, spark, corpus, robots, ckpt):
        return SparkCrawler(
            spark, corpus, robots, DEEP_CFG,
            checkpoint_dir=ckpt, checkpoint_interval=CHECKPOINT_INTERVAL,
            validate_payloads=True, collect_metrics=self.collect_metrics,
        )

    def setup(self, spark) -> None:
        """Construct the crawler the next job runs; the session start is
        timed by the caller."""
        if self.crawler is not None:
            self.crawler.close()
        self.n_jobs += 1
        self.ckpt = os.path.join(self.work_root, f"crawl-{self.n_jobs}")
        self.tables = self._tables(spark)
        self.crawler = self._crawler(spark, *self.tables[:2], self.ckpt)

    def job(self, spark) -> JobResult:
        corpus, robots, seeds = self.tables
        e0, t0 = time.time(), time.perf_counter()
        first = self.crawler.run(seeds=seeds, stop_after_round=STOP_AFTER)
        e1, t1 = time.time(), time.perf_counter()
        stopped_at = first.rounds
        self.crawler.close()
        # "kill": a fresh crawler over the same checkpoint dir resumes
        e2, t2 = time.time(), time.perf_counter()
        resumed = self._crawler(spark, corpus, robots, self.ckpt)
        t_call = time.time()
        res = resumed.run(resume=True)
        e3, t3 = time.time(), time.perf_counter()
        resumed.close()
        self.crawler = None
        self.result = res
        # the first post-resume round has committed once its durable metrics
        # file (written right after the commit) exists
        first_commit = os.path.getmtime(
            os.path.join(self.ckpt, "metrics", f"round={stopped_at:06d}.parquet")
        )
        walls = round_walls(res.metrics)
        resume_s = first_commit - t_call
        return JobResult(
            wall_s=(t1 - t0) + (t3 - t2),
            items=res.fetch_seq,
            attempted=res.fetch_seq,
            failed=res.payload_failures,
            steps=[(f"round{i}", w) for i, w in enumerate(walls)],
            extra=dict(
                resume_s=resume_s,
                restore_s=resume_s - walls[stopped_at],
                stopped_at=stopped_at,
                store_bytes=dir_bytes(self.ckpt),
                metrics=res.metrics,
                windows=[(e0, e1), (e2, e3)],
            ),
        )

    def check(self, spark) -> str | None:
        """Exact crawl order, URL-seen set and every frontier column of the
        resumed crawl against the pure-Python oracle."""
        t = self.inputs.tables
        oracle = crawl_oracle(t["corpus"], t["robots"], t["seeds"], DEEP_CFG)
        try:
            assert_crawl_equal(self.result, oracle)
        except AssertionError as e:
            return f"deep_crawl differs from the oracle: {str(e)[:500]}"
        return None

    def traced_extras(self, spark) -> dict:
        """What the per-layer metrics need from the live session."""
        return {"frontier_rows": self.result.frontier.count()}

    def kernel_inputs(self):
        """The crawl's own candidate URLs and fetchable payload rows."""
        c = self.inputs.tables["corpus"]
        urls = list(c["url"]) + [u for links in c["out_links"] for u in links]
        return urls, c[c["bytes"].notna()]


# --------------------------------------------------------------------- curate
def _hash_rows(cols, rows) -> str:
    """Order-insensitive value hash over rows, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "\x00"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    h = hashlib.sha256()
    for line in sorted("\x1f".join(norm(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def sql_oracle(name: str) -> str | None:
    """The DuckDB oracle of a query when it is SQL over the input tables;
    None when it reads a precomputed fixture (pinned to other data)."""
    sql = ORACLE.get(name)
    if sql is None or ".oracle-cache" in sql:
        return None
    return sql


class Curate:
    name = "curate"

    def __init__(self, sf_dir: str, n_docs: int, work_root: str):
        self.sf_dir = sf_dir
        self.n_docs = n_docs
        self.work_root = work_root
        self.errors: dict[str, str] = {}

    def setup(self, spark) -> None:
        pass

    def job(self, spark) -> JobResult:
        steps = []
        failed = 0
        e0, t0 = time.time(), time.perf_counter()
        for name in CURATE_QUERIES:
            ts = time.perf_counter()
            try:
                QUERIES[name](spark, self.sf_dir).write.format("noop").mode(
                    "overwrite").save()
            except Exception as e:  # a failing query is counted, not fatal
                failed += 1
                self.errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            steps.append((name, time.perf_counter() - ts))
        return JobResult(
            wall_s=time.perf_counter() - t0, items=self.n_docs,
            attempted=len(steps), failed=failed, steps=steps,
            extra=dict(windows=[(e0, time.time())]),
        )

    def traced_extras(self, spark) -> dict:
        """The export sink timed alone on the pipeline sample it exports."""
        from abwcf_spark.pipelines.export import write_training_shards
        from abwcf_spark.queries import training_pipeline_sample

        sample = training_pipeline_sample(spark, self.sf_dir)
        out = os.path.join(self.work_root, "export")
        t = time.perf_counter()
        write_training_shards(sample, out, partition_cols=("lang",),
                              max_records_per_file=64)
        return {"export_s": time.perf_counter() - t}

    def kernel_inputs(self):
        """The pages whose images phash_bytes_chain_pairs decodes: their
        URLs and payload rows."""
        from abwcf_spark.testing.corpus import T2_MULTI, gen_corpus

        c = gen_corpus(T2_MULTI)["corpus"]
        return list(c["url"]), c[c["bytes"].notna()]


    def check(self, spark) -> str | None:
        """Queries whose oracle is SQL over the input tables: same rows as
        DuckDB, by an order-insensitive value hash."""
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.sf_dir, 'documents.parquet')}')"
        )
        try:
            for name in CURATE_QUERIES:
                sql = sql_oracle(name)
                if sql is None or name in self.errors:
                    continue
                sdf = QUERIES[name](spark, self.sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
                orows = con.execute(sql).fetchall()
                ocols = [d[0] for d in con.description]
                if sorted(sdf.columns) != sorted(ocols) or _hash_rows(
                    sdf.columns, srows
                ) != _hash_rows(ocols, orows):
                    return (f"{name}: {len(srows)} rows differ from the DuckDB "
                            f"oracle's {len(orows)}")
        finally:
            con.close()
        return None
