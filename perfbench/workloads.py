"""The three listings workloads.

Each workload has the same life cycle, driven by ``run.py``:

    setup(dir)        generate inputs from the seed, bootstrap tables
    prepare(i)        untimed: whatever op i needs in place beforehand
    run(i)            the timed op: calls into the program's public API
    finish(i, out)    untimed: check the op's output, count items/bytes
    reset()           untimed: release blocks, restore or vacuum tables
    final_check()     untimed, once: end-of-run equivalence check

Layer spans are opened around every call into the program; they cost
nothing in an untraced op.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from delta_data_pipelines_spark import sinks
from delta_data_pipelines_spark.ingest import crawl
from delta_data_pipelines_spark.ingest.fetch import fetch_stage
from delta_data_pipelines_spark.ingest.quarantine import parse_with_quarantine
from delta_data_pipelines_spark.ingest.registry import conform
from delta_data_pipelines_spark.ingest.transformers import mrestate
from delta_data_pipelines_spark.jobs.search_indexer import (
    ContinuousSearchIndexer,
    default_fact_filter,
)
from delta_data_pipelines_spark.queries.search_index import (
    build_index_frames,
    search_index_full,
)
from delta_data_pipelines_spark.storage import VersionedTable

from . import datagen
from .trace import Tracer, stage

# Per workload and scale: input sizes. "full" is what the benchmark
# measures; "tiny" is the self-test size. index_publish is sf0.1
# (about 27k documents, 137 POSTs). listing_ingest is a 20k-URL page
# against a 200k-row listings table scaled to 15%, the page a tenth of
# the base: the three MERGEs take about 60% of an op at a 20k, 50k and
# 200k base alike, and the listings MERGE alone 26% at 20k and 30% at
# 50k, but a 200k-base op takes 16 s, longer than a run's window.
# index_tick runs on sf0.013 sources: a tick is 77 Spark jobs whose
# cost hardly depends on the source size.
SIZES = {
    "index_publish": {"full": {"orders": 150_000}, "tiny": {"orders": 1_500}},
    "listing_ingest": {
        "full": {"base": 30_000, "page": 3_000},
        "tiny": {"base": 2_000, "page": 400},
    },
    "index_tick": {"full": {"orders": 20_000}, "tiny": {"orders": 1_500}},
}

BATCH_ROWS = 200  # the reference search engine's POST batch size
SEEN_SHARE = 0.3  # share of a crawl page already seen


@dataclass
class OpOutput:
    ok: bool
    items: int
    bytes_written: int
    note: str = ""


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def latest_commit_dir(t: VersionedTable) -> str:
    return os.path.join(t.root, t.history()[-1].data)


def release_blocks(spark: SparkSession) -> None:
    """Unpersist every persistent RDD, checkpoint blocks included."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()


def traced_write(tracer: Tracer, t: VersionedTable, method: str, useful_key: str) -> None:
    """Wrap one table method as a ``storage.table.<method>`` span that
    also counts the committed bytes and rows of the snapshot it wrote."""
    orig = getattr(t, method)
    layer = f"storage.table.{method}"

    def wrapped(*args, **kwargs):
        if not tracer.active:
            return orig(*args, **kwargs)
        with tracer.span(layer):
            commit = orig(*args, **kwargs)
        d = os.path.join(t.root, commit.data)
        tracer.count(f"{layer}.bytes_written", parquet_bytes(d))
        tracer.count(f"{layer}.rows_written", parquet_rows(d))
        tracer.count(f"{layer}.useful_rows", commit.metrics.get(useful_key, 0))
        return commit

    setattr(t, method, wrapped)


class Workload:
    def __init__(self, spark: SparkSession, work: str, seed: int, scale: str, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.tracer = tracer

    name = ""

    def prepare(self, i: int) -> None:
        pass

    def final_check(self) -> tuple[bool, str]:
        return True, ""


# ---- index_publish -----------------------------------------------------------


def _canonical(rows: list[dict]) -> str:
    """Order-insensitive hash of index documents as posted (JSON types)."""
    lines = sorted(
        json.dumps({k: (str(v) if hasattr(v, "isoformat") else v) for k, v in r.items()}, sort_keys=True)
        for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class IndexPublish(Workload):
    """Nightly full rebuild: search_index_full over the star schema,
    POSTed in 200-row batches through the file sink."""

    name = "index_publish"

    def setup(self, d: str) -> None:
        import duckdb

        import __spark_entry__

        tables = datagen.star_schema(self.size["orders"], self.seed)
        self.sf_dir = os.path.join(d, "sf")
        datagen.write_star(tables, self.sf_dir)
        # the reference result, from DuckDB running the oracle SQL
        con = duckdb.connect()
        try:
            for name, t in tables.items():
                con.register(name, t)
            cur = con.execute(__spark_entry__.oracle_sql()["search_index_full"])
            cols = [c[0] for c in cur.description]
            oracle = [dict(zip(cols, r)) for r in cur.fetchall()]
        finally:
            con.close()
        self.expect_rows = len(oracle)
        self.oracle_hash = _canonical(oracle)
        self.last_dir = ""

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "posted", f"op{i}")

    def run(self, i: int) -> None:
        tr = self.tracer
        with tr.span("queries.search_index.search_index_full"):
            index = search_index_full(self.spark, self.sf_dir)
            if tr.active:
                index = stage(index)
                tr.count("queries.search_index.search_index_full.rows", index.count())
        with tr.span("sinks.send_batches"):
            sinks.send_batches(index, sinks.file_post(self._out(i)), BATCH_ROWS)

    def _posted(self, out_dir: str) -> tuple[list[dict], int, int]:
        files = sorted(glob.glob(os.path.join(out_dir, "*.json")))
        rows: list[dict] = []
        for p in files:
            with open(p) as f:
                rows.extend(json.load(f))
        return rows, len(files), sum(os.path.getsize(p) for p in files)

    def finish(self, i: int, _out) -> OpOutput:
        rows, batches, nbytes = self._posted(self._out(i))
        self.tracer.count("sinks.send_batches.batches", batches)
        self.tracer.count("sinks.send_batches.bytes", nbytes)
        ok = len(rows) == self.expect_rows == len({r["id"] for r in rows})
        self.last_dir = self._out(i)
        return OpOutput(ok, len(rows), nbytes, f"posted {len(rows)} of {self.expect_rows}")

    def reset(self) -> None:
        """Delete the posted batches, except the last op's, which the
        final check reads."""
        for p in glob.glob(os.path.join(self.work, "posted", "op*")):
            if p != self.last_dir:
                shutil.rmtree(p, ignore_errors=True)
        release_blocks(self.spark)

    def final_check(self) -> tuple[bool, str]:
        """The last op's posted set equals DuckDB running the oracle SQL."""
        rows = self._posted(self.last_dir)[0]
        ok = _canonical(rows) == self.oracle_hash
        return ok, f"oracle rows {self.expect_rows}, posted {len(rows)}, hashes {'match' if ok else 'differ'}"


# ---- listing_ingest ----------------------------------------------------------

NOW = "2026-01-01 00:00:00"


class ListingIngest(Workload):
    """Crawler + fetcher path: one crawl page through dedup, queue
    publish, offline fetch, quarantining parse, the mrestate
    transformer and the listings MERGE; every op starts from the same
    base tables."""

    name = "listing_ingest"

    def setup(self, d: str) -> None:
        self.inputs = datagen.ingest_inputs(self.size["base"], self.size["page"], SEEN_SHARE, self.seed)
        self.base = os.path.join(d, "base")
        os.makedirs(d, exist_ok=True)
        self.page_path = os.path.join(d, "page.parquet")
        pq.write_table(pa.table({"content_url": self.inputs.page}), self.page_path)
        ids_path = os.path.join(d, "base_ids.parquet")
        pq.write_table(pa.table({"id": self.inputs.base_ids}), ids_path)
        now = F.lit(NOW).cast("timestamp")
        urls = self.spark.read.parquet(ids_path).select(
            "id",
            F.concat(F.lit(datagen.URL_PREFIX), F.lpad(F.col("id").cast("string"), 9, "0")).alias("content_url"),
        )
        h = F.abs(F.xxhash64("id"))
        listings = conform(
            urls,
            {
                "content_url": F.col("content_url"),
                "created_at": now,
                "created_at_month": now,
                "city_slug": F.element_at(F.array(*map(F.lit, ("tehran", "karaj", "shiraz"))), (h % 3 + 1).cast("int")),
                "title": F.concat(F.lit("apartment "), (h % 200 + 40).cast("string")),
                "price_value": (h % 90 + 10) * 100_000_000,
                "building_size": (h % 200 + 40).cast("double"),
                "rooms_count": (h % 5 + 1).cast("int"),
                "status": F.lit("active"),
            },
            source=datagen.SITE,
        )
        VersionedTable(self.spark, os.path.join(self.base, "listings")).overwrite(listings)
        VersionedTable(self.spark, os.path.join(self.base, "seen")).overwrite(
            urls.select(F.lit(datagen.SITE).alias("site"), "content_url")
        )
        VersionedTable(self.spark, os.path.join(self.base, "queue")).overwrite(
            urls.select(
                "content_url",
                F.lit(datagen.SITE).alias("site"),
                *[F.lit(None).cast("string").alias(c) for c in ("listingType", "propertyType", "landuseType")],
                now.alias("enqueued_at"),
            )
        )
        self.base_versions = {
            n: VersionedTable(self.spark, os.path.join(self.base, n)).latest_version()
            for n in ("listings", "seen", "queue")
        }

    def prepare(self, i: int) -> None:
        """Restore the ingest tables to their base version: every op
        merges the same page into the same tables."""
        root = os.path.join(self.work, "tables")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.base, root)
        self.t = {n: VersionedTable(self.spark, os.path.join(root, n)) for n in self.base_versions}
        for t in self.t.values():
            traced_write(self.tracer, t, "merge", "inserted")

    def run(self, i: int) -> tuple[int, int]:
        tr, site = self.tracer, datagen.SITE
        with tr.span("ingest.crawl.partition_new"):
            page = self.spark.read.parquet(self.page_path)
            new, _dup = crawl.partition_new(page, self.t["seen"].read(), site)
            # the one crawl snapshot publish, fetch and mark_seen all use
            new = stage(new)
            if tr.active:
                tr.count("ingest.crawl.dup_ratio", 1.0 - new.count() / len(self.inputs.page))
        with tr.span("ingest.crawl.publish"):
            crawl.publish(self.t["queue"], new, site)
        with tr.span("ingest.fetch.fetch_stage"):
            # fetched once: a detail GET is not repeated for a second consumer
            fetched = stage(fetch_stage(new, datagen.fetch_payload))
            if tr.active:
                tr.count("ingest.fetch.fetch_stage.rows", fetched.count())
                tr.count("ingest.fetch.fetch_stage.errors", fetched.where(F.col("fetch_error").isNotNull()).count())
        with tr.span("ingest.quarantine.parse_with_quarantine"):
            clean, quarantined = parse_with_quarantine(fetched, "body", datagen.MRESTATE_DATA_SCHEMA)
            if tr.active:
                clean = stage(clean)
            n_quarantined = quarantined.count()
            tr.count("ingest.quarantine.parse_with_quarantine.quarantined", n_quarantined)
        with tr.span("ingest.transformers"):
            listings = mrestate.transform(
                clean.select("content_url", F.col("parsed").alias("data")),
                now=F.lit(NOW).cast("timestamp"),
            )
            if tr.active:
                listings = stage(listings)
                tr.count("ingest.transformers.rows", listings.count())
        inserted = self.t["listings"].merge(listings, keys=["content_url"]).metrics["inserted"]
        with tr.span("ingest.crawl.mark_seen"):
            crawl.mark_seen(self.t["seen"], new, site)
        return inserted, n_quarantined

    def finish(self, i: int, out: tuple[int, int]) -> OpOutput:
        inserted, quarantined = out
        exp = self.inputs
        nbytes = sum(
            parquet_bytes(os.path.join(t.root, c.data))
            for n, t in self.t.items()
            for c in t.history()
            if c.version > self.base_versions[n]
        )
        # the fetch errors show in every op as the inserted shortfall;
        # a traced op also counts them directly
        errors = self.tracer.counted("ingest.fetch.fetch_stage.errors")
        ok = (
            inserted == exp.expect_inserted
            and quarantined == exp.expect_quarantined
            and errors in (None, exp.expect_fetch_errors)
        )
        return OpOutput(
            ok, len(exp.page), nbytes,
            f"inserted {inserted}/{exp.expect_inserted}, quarantined {quarantined}/{exp.expect_quarantined}, "
            f"fetch errors {errors}/{exp.expect_fetch_errors}",
        )

    def reset(self) -> None:
        shutil.rmtree(os.path.join(self.work, "tables"), ignore_errors=True)
        release_blocks(self.spark)


# ---- index_tick --------------------------------------------------------------


class IndexTick(Workload):
    """Between-rebuild index maintenance: a seeded change set lands on
    the sources, then one ContinuousSearchIndexer.tick() catches the
    index up."""

    name = "index_tick"

    def setup(self, d: str) -> None:
        self.tables = datagen.star_schema(self.size["orders"], self.seed)
        self.rng = np.random.default_rng(self.seed + 1)
        sf = os.path.join(d, "sf")
        datagen.write_star(self.tables, sf)
        self.sources = {
            n: VersionedTable(self.spark, os.path.join(d, "src", n)) for n in datagen.STAR_TABLES
        }
        for n, t in self.sources.items():
            t.overwrite(self.spark.read.parquet(os.path.join(sf, f"{n}.parquet")))
        self.index = VersionedTable(self.spark, os.path.join(d, "index"))
        self.indexer = ContinuousSearchIndexer(self.spark, self.sources, self.index)
        mode = self.indexer.tick()["mode"]
        if mode != "bootstrap":
            raise RuntimeError(f"bootstrap tick ran as {mode}")
        for t in self.sources.values():
            self._trace_changes(t)
        traced_write(self.tracer, self.index, "apply_changes", "upserts")

    def _trace_changes(self, t: VersionedTable) -> None:
        """``changes`` is lazy: a traced op stages the feed inside the span."""
        orig, tr = t.changes, self.tracer

        def wrapped(*args, **kwargs):
            if not tr.active:
                return orig(*args, **kwargs)
            with tr.span("storage.table.changes"):
                feed = stage(orig(*args, **kwargs))
                tr.count("storage.table.changes.rows", feed.count())
            return feed

        t.changes = wrapped

    def prepare(self, i: int) -> None:
        """Commit the next seeded change set to the sources (untimed):
        each changed table lands as one new snapshot version."""
        cs = datagen.change_set(self.tables, self.rng)
        self.tables.update(cs.tables)
        self.affected_keys = cs.affected_keys
        d = os.path.join(self.work, "changes")
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_star(cs.tables, d)
        for name in cs.tables:
            self.sources[name].overwrite(self.spark.read.parquet(os.path.join(d, f"{name}.parquet")))

    def run(self, i: int) -> dict:
        with self.tracer.span("jobs.search_indexer.tick"):
            return self.indexer.tick()

    def finish(self, i: int, out: dict) -> OpOutput:
        keys = self.affected_keys
        self.tracer.count("jobs.search_indexer.tick.affected_keys", keys)
        self.tracer.count("jobs.search_indexer.tick.upserts", out.get("upserts", 0))
        ok = out["mode"] == "incremental"
        return OpOutput(ok, keys, parquet_bytes(latest_commit_dir(self.index)), f"tick {out['mode']}, {keys} keys")

    def reset(self) -> None:
        for t in (*self.sources.values(), self.index):
            t.vacuum(keep_last=1)
        shutil.rmtree(os.path.join(self.work, "changes"), ignore_errors=True)
        release_blocks(self.spark)

    def final_check(self) -> tuple[bool, str]:
        """The indexer's invariant: the maintained index equals a fresh
        build over the latest snapshots."""
        snaps = {n: t.read() for n, t in self.sources.items()}
        fresh = build_index_frames(
            snaps["orders"], snaps["customer"], snaps["nation"], snaps["region"],
            snaps["lineitem"], snaps["part"], snaps["events"], default_fact_filter(),
        )
        fresh = stage(fresh)
        index = self.index.read().select(*fresh.columns)
        missing = fresh.exceptAll(index).count()
        extra = index.exceptAll(fresh).count()
        return missing == extra == 0, f"fresh-build diff: {missing} missing, {extra} extra"


WORKLOADS = {w.name: w for w in (IndexPublish, ListingIngest, IndexTick)}
