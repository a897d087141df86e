"""The crawl engine: a Bulk-Synchronous-Parallel frontier loop over Spark.

Each round is the distributed form of one reference recursion layer
(SURVEY.md §3.4; reference crawl_website_dfs src/crawl.rs:29-120).
``Engine._round`` drives one private method per layer:

  select (``_select``): frontier --select_batch--> visit batch
    (politeness rank + cap trim, F6), materialized by one checkpoint job
  fetch+extract (``_fetch_extract``): fetch-simulation join against the
    pages table (J1; ``_pages_join``): a batch of at most
    cfg.fetch_broadcast_limit rows broadcasts INTO the pages scan (the
    100-TB side streams, never shuffles); a larger one is the build side
    of a shuffle-hash join; misses are fetch failures (Q4) -> fused page
    UDF (text + links)
  resolve+dedup (``_resolve_dedup``): posexplode (E2/E3) -> fused
    resolve/validate/canonicalize/sha1 UDF (C1/C2/F1-F4) -> first-observer
    dedup (U1/U2)
  judge (``_judge``): bloom + anti-join seen filter (J2) -> completed
    filter (J3, observable on resume runs only) -> robots join on host +
    per-host-group executor-side matcher (J4/E4; no robots body ever
    reaches the driver)
  stats (``_round_stats``): ONE aggregate job runs the whole pipeline and
    returns every per-round scalar and per-partition lineage stat
  emit (``_emit``): visited_ops 'visit' rows (MERGE-equivalent upsert log,
    S6) and 'block' rows (Q6); imgs join the assets table (Content-Type
    predicate F5, BLOB stored, S2/S8); links become next-frontier ADD rows
    with DFS-prefix priorities (§7.4) and edge rows for the completion agg
  publish (``_publish``): concurrent table writes + seen deltas + bloom
    update + metrics, then the atomic round commit or an abort — the same
    path stream ingest (``ingest_candidates``) commits through
  maintenance (``_maintain``): delta-chain compaction, frontier fold,
    bloom snapshot GC.

Scale design notes (10^10 frontier):
- nothing driver-resident scales with frontier size: the bloom is fixed-size
  bits, counters are scalars, the queued-seed set is <= |seeds|;
- per-round WRITES are O(batch + children): the frontier is adds-only;
  visited rows are masked at read time (visit-round vs added-round join
  over only the rounds since the last fold) and physically dropped by the
  periodic fold — never an O(frontier) rewrite inside a round;
- the per-round O(frontier) that remains is the scheduling SCAN
  (per-host politeness rank needs every host's minimum) — the read itself
  is irreducible for global scheduling;
- the cap trim is a range-partitioned exact top-k (per-partition counts +
  boundary-partition rank), never a single-partition global sort;
- work stages repartition by url_sha1 (uniform) so mega-host batches spread
  over all executors; politeness quota bounds any host's share per round;
- every count the loop needs is computed in one aggregate job per round.

Resume: the catalog manifest names the last committed round; an interrupted
round leaves only unreferenced files. ``Engine.open`` reloads the bloom and
counters from the manifest and continues (Q5 / north-rule checkpoint story).
A *fresh run over an existing store* (reference process restart: in-memory
seen set lost, SQLite kept) is ``fresh_seen=True``: the completed filter
then becomes the observable resume gate, exactly like the reference.
"""

from __future__ import annotations

import glob
import os
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from crabspark import frontier as frontier_mod
from crabspark import udfs, urlkit
from crabspark.config import Config
from crabspark.seen import Bloom, filter_unseen
from crabspark.tables import Catalog, pages_bucket, pages_bucket_count

FRONTIER_SCHEMA = (
    "url string, canon string, sha1 string, host string, referrer string, "
    "priority string, depth int, added_round int"
)
OPS_SCHEMA = "url string, referrer string, round int, priority string, op string"
EDGES_SCHEMA = "parent string, parent_round int, child string"


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: Config,
        workdir: str,
        pages_path: str,
        robots_path: str | None = None,
        assets_path: str | None = None,
        fresh_seen: bool = False,
    ):
        from crabspark.shipping import ship_package

        ship_package(spark)  # the in-process analogue of --py-files
        self.spark = spark
        self.cfg = cfg
        # blob-heavy UDF stages need small Arrow batches (see Config)
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_max_records_per_batch),
        )
        # Ephemeral store mode (reference src/sqlite.rs:9-14 with
        # sqlite_enabled=false: the crawler runs, nothing persists, state
        # dies with the process). The distributed engine still needs the
        # catalog DURING the run (round atomicity, completion fixpoint,
        # resume-within-process), so ephemeral mode roots it in a
        # process-lifetime temp dir that is removed at interpreter exit —
        # observable semantics match the reference: a new process starts
        # from scratch, and `workdir` is never touched (the reference
        # likewise ignores sqlite_path when disabled).
        self._ephemeral_root: str | None = None
        if not cfg.sqlite_enabled:
            import atexit
            import shutil
            import tempfile

            self._ephemeral_root = tempfile.mkdtemp(prefix="crabspark-eph-")
            atexit.register(
                shutil.rmtree, self._ephemeral_root, ignore_errors=True
            )
            workdir = self._ephemeral_root
        self.catalog = Catalog(workdir, spark)
        # an earlier build could keep the live frontier in a host-bucketed
        # table: auto-migrated stores carry the 'frontier_bucketed_n' extra,
        # stores created bucketed only the frontier_bucketed/ directory.
        # Resuming either on the delta chain would silently crawl from an
        # empty frontier.
        if self.catalog.extra("frontier_bucketed_n") or os.path.isdir(
            os.path.join(self.catalog.root, "frontier_bucketed")
        ):
            raise RuntimeError(
                f"workdir {self.catalog.root} keeps its frontier in the "
                f"removed host-bucketed layout (manifest extra "
                f"'frontier_bucketed_n' or frontier_bucketed/); re-crawl "
                f"into a fresh workdir"
            )
        self.pages = spark.read.parquet(pages_path)
        # url-hash-bucketed pages layout (tables.bucketize_pages): the
        # fetch join prunes the scan to the batch's bucket partitions
        self.pages_buckets = pages_bucket_count(pages_path)
        self.robots_df = (
            spark.read.parquet(robots_path) if robots_path else None
        )
        # image-fetch responses (url, content_type, bytes); when absent the
        # engine falls back to presence-in-pages success semantics
        self.assets = spark.read.parquet(assets_path) if assets_path else None
        self._extract_page = udfs.extract_page_udf()
        self._trim_body = udfs.trim_body_udf()
        self._resolve = udfs.resolve_full_udf(
            cfg.permitted_domains, cfg.blacklist_domains, cfg.free_crawl
        )
        self._image_name = udfs.image_name_udf()
        self._blocked_join = udfs.blocked_join_udf(
            cfg.user_agents, cfg.respect_robots
        )
        # canonical seed rows, parsed once (tiny, driver-resident): seeds
        # are the only canons that can be re-discovered while still queued,
        # so the queued-seed set is the whole frontier-dedup state the
        # driver needs
        self._seed_rows = self._parse_seeds()
        self._all_seed_canons = {row[1] for row in self._seed_rows}
        self._queued_seeds = set(self.catalog.extra("queued_seeds", []))
        # measurement-only: per-round (select, pipeline, write+commit)
        # wall splits for this PROCESS's rounds (not persisted; resumes
        # start empty) — bench/scaling.py exports them for the phase-level
        # Amdahl decomposition in BENCH/BASELINE.md
        self.phase_splits: list[dict] = []

        self.round = self.catalog.committed_round + 1
        self.total_visited = int(self.catalog.extra("total_visited", 0))
        # driver-side frontier-size estimate (None = unknown -> always trim)
        fs = self.catalog.extra("frontier_size")
        self.frontier_size = int(fs) if fs is not None else None
        bloom_path = self.catalog.extra("bloom")
        if bloom_path and os.path.exists(bloom_path) and not fresh_seen:
            self.bloom = Bloom.load(
                bloom_path, cfg.bloom_capacity, cfg.bloom_fpp
            )
        else:
            self.bloom = Bloom(cfg.bloom_capacity, cfg.bloom_fpp)
        if fresh_seen and self.catalog.committed_round >= 0:
            # reference process restart: seen set was in-memory and is lost;
            # visited/is_complete persists and gates re-crawl (Q5).
            self.catalog.overwrite(
                "seen", self._empty("url string, sha1 string, round int"),
                self.round,
            )
            self.total_visited = 0
            self._seed_frontier(frontier_folded_round=self.round - 1)

    # ------------------------------------------------------------------
    def _debug_log(self, msg: str) -> None:
        """C9 debug_log (reference src/tools.rs:15-19: conditional
        println). Driver-side channel only — executor-side events land in
        the metrics_partitions table instead of a log stream."""
        if self.cfg.debug and self.cfg.live_logging:
            print(f"[crabspark] {msg}", flush=True)

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _job_counter(self) -> int:
        """Monotone count of Spark jobs submitted so far — the per-round
        delta is the fixed-floor metric the scaling protocol tracks (each
        job costs ~0.1-1s of scheduling regardless of data size)."""
        try:
            return int(
                self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
            )
        except Exception:
            return 0

    def _stage_metrics_local(
        self, r, stats, batch_n, new_total, new_frontier_size, t0,
    ) -> None:
        """Stage the per-round metrics tables as driver-local pyarrow
        parquet — O(partitions) rows, zero Spark jobs. Schemas mirror the
        Spark DDL the tables were defined with (int = int32, long = int64)
        so delta scans union cleanly with Spark-written compactions."""
        import pyarrow as pa

        mp_schema = pa.schema(
            [
                ("round", pa.int32()), ("stage", pa.string()),
                ("partition_id", pa.int32()), ("rows", pa.int64()),
                ("blocked", pa.int64()), ("children", pa.int64()),
            ]
        )
        mp_rows = [
            {
                "round": r, "stage": "extract",
                "partition_id": int(row["partition_id"]),
                "rows": int(row["cand_n"] or 0),
                "blocked": int(row["blocked_n"] or 0),
                "children": int(row["child_n"] or 0),
            }
            for row in stats["part_stats"]
        ] + [
            {
                "round": r, "stage": "fetch",
                "partition_id": int(row["partition_id"]),
                "rows": int(row["fetched_n"] or 0),
                "blocked": 0, "children": 0,
            }
            for row in stats["fetch_parts"]
        ]
        self.catalog.append_local(
            "metrics_partitions",
            pa.Table.from_pylist(mp_rows, schema=mp_schema),
            r,
        )
        m_schema = pa.schema(
            [
                ("round", pa.int32()), ("batch_n", pa.int64()),
                ("fetched_n", pa.int64()), ("failed_n", pa.int64()),
                ("cand_n", pa.int64()), ("blocked_n", pa.int64()),
                ("completed_dropped_n", pa.int64()), ("child_n", pa.int64()),
                ("img_n", pa.int64()), ("total_visited", pa.int64()),
                ("frontier_size", pa.int64()), ("wall_s", pa.float64()),
            ]
        )
        m_row = {
            "round": r, "batch_n": batch_n, "fetched_n": stats["fetched_n"],
            "failed_n": batch_n - stats["fetched_n"],
            "cand_n": stats["cand_n"], "blocked_n": stats["blocked_n"],
            "completed_dropped_n": stats["completed_dropped_n"],
            "child_n": stats["child_n"], "img_n": stats["img_n"],
            "total_visited": new_total,
            "frontier_size": (
                -1 if new_frontier_size is None else new_frontier_size
            ),
            "wall_s": float(time.monotonic() - t0),
        }
        self.catalog.append_local(
            "metrics", pa.Table.from_pylist([m_row], schema=m_schema), r
        )

    def _parse_seeds(self) -> list[tuple]:
        """(ser, canon, sha1, host, priority) of each distinct valid seed,
        first occurrence wins; the priority keeps its config index."""
        seeds = pd.Series(self.cfg.seeds, dtype=object)
        parsed = urlkit.parse_serialize(seeds)
        canon = urlkit.canonicalize(parsed["ser"])
        sha1 = urlkit.sha1_hex(canon)
        rows, canons = [], set()
        for i in range(len(seeds)):
            if parsed["ser"].iloc[i] is None or canon.iloc[i] in canons:
                continue
            canons.add(canon.iloc[i])
            rows.append((
                parsed["ser"].iloc[i], canon.iloc[i], sha1.iloc[i],
                parsed["domain"].iloc[i], frontier_mod.seed_priority(i),
            ))
        return rows

    def _init_frontier(self) -> None:
        """Stage the seed frontier (committed by ``_seed_frontier``)."""
        rows = [
            (ser, canon, sha1, host, "STARTING_URL", prio, 0, self.round - 1)
            for ser, canon, sha1, host, prio in self._seed_rows
        ]
        seeds_df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        self.catalog.overwrite("frontier", seeds_df, self.round)
        self.frontier_size = len(rows)
        self._queued_seeds = set(self._all_seed_canons)

    def _seed_frontier(self, **extras) -> None:
        """Write the seed frontier and commit it: a fresh crawl, or a
        fresh-seen run over an existing store."""
        self._init_frontier()
        self.catalog.commit(
            self.round - 1,
            {"total_visited": self.total_visited,
             "frontier_size": self.frontier_size,
             "queued_seeds": sorted(self._queued_seeds), **extras},
        )

    # ------------------------------------------------------------------
    def run(self, max_rounds: int | None = None) -> dict:
        """Drive rounds until the frontier drains, the visit cap bites, or
        the whole-crawl timeout elapses (the reference's watchdog,
        src/main.rs:82-98 — except we stop cleanly at a round boundary
        with everything committed, instead of dropping the thread)."""
        # existence comes from the COMMITTED manifest: a crash between the
        # seed write and the init commit leaves only an unreferenced delta,
        # so the next run seeds again. A committed streaming ingest counts:
        # its roots are kept and the config seeds stay unqueued.
        if not self.catalog.exists("frontier"):
            self._seed_frontier()
        started = time.monotonic()
        rounds_done = 0
        timed_out = False
        while True:
            if self.total_visited >= self.cfg.max_urls_to_visit:
                break
            if max_rounds is not None and rounds_done >= max_rounds:
                break
            if time.monotonic() - started >= self.cfg.crawler_timeout:
                timed_out = True
                break
            progressed = self._round()
            if not progressed:
                break
            rounds_done += 1
        t_fin = time.monotonic()
        self.finalize()
        self._debug_log(f"finalize {time.monotonic() - t_fin:.1f}s")
        self._debug_log(
            f"crawl stopped after {rounds_done} rounds: "
            f"{self.total_visited} visited"
            + (" (timed out)" if timed_out else "")
        )
        return {
            "rounds": rounds_done,
            "visited": self.total_visited,
            "timed_out": timed_out,
        }

    # ------------------------------------------------------------------
    def _round(self) -> bool:
        """One BSP round, layer by layer (module docstring). Returns False
        when the frontier is drained."""
        r = self.round
        t0 = time.monotonic()
        # the driver's frontier-size estimate is provably >= the true live
        # count (children are counted before the queued-seed/depth filters;
        # batch subtraction is exact), so 0 means empty — skip the drain
        # round's select/rank jobs entirely
        if self.frontier_size == 0:
            self._debug_log(f"round {r}: frontier empty (driver estimate)")
            return False
        jobs0 = self._job_counter()
        ops = self.catalog.read("visited_ops")
        selected = self._select(r, ops)
        if selected is None:
            self._debug_log(
                f"round {r}: drain check empty, {time.monotonic() - t0:.1f}s"
            )
            return False
        batch, batch_n, bids, queued_now = selected
        t_batch = time.monotonic()

        hits, fetched = self._fetch_extract(r, batch, batch_n, bids)
        judged = self._judge(self._resolve_dedup(hits), ops)
        stats = self._round_stats(judged, hits)
        t_judged = time.monotonic()

        writes, queued_after = self._emit(
            r, batch, judged, fetched, stats, queued_now
        )
        new_total = self.total_visited + batch_n
        new_frontier_size = self.frontier_size
        if new_frontier_size is not None:
            # children all enter the frontier; batch rows leave it. Depth-
            # filtered children make this an overestimate (safe: trims more).
            new_frontier_size = max(
                0, new_frontier_size - batch_n + stats["child_n"]
            )
        try:
            self._publish(
                r, writes,
                {
                    "total_visited": new_total,
                    "frontier_size": new_frontier_size,
                    "queued_seeds": sorted(queued_after),
                },
                # an all-miss round leaves the seen set, the bloom and its
                # snapshot pointer unchanged
                seen=judged if stats["cand_n"] > 0 else None,
                # metrics rows are O(partitions) driver-local data: staged
                # as pyarrow parquet with ZERO Spark jobs (a Spark write
                # job for 40 rows is pure fixed floor)
                stage_local=lambda: self._stage_metrics_local(
                    r, stats, batch_n, new_total, new_frontier_size, t0
                ),
            )
        finally:
            hits.unpersist()
            judged.unpersist()
        # driver counters advance only after a successful commit, so a caller
        # that catches a failed round and retries sees pre-round state
        self.total_visited = new_total
        self.frontier_size = new_frontier_size
        self._queued_seeds = queued_after
        self.phase_splits.append({
            "round": r,
            "select_s": round(t_batch - t0, 3),
            "pipeline_s": round(t_judged - t_batch, 3),
            "write_s": round(time.monotonic() - t_judged, 3),
        })
        self._debug_log(
            f"round {r}: visited {batch_n}, fetched {stats['fetched_n']}, "
            f"candidates {stats['cand_n']}, blocked {stats['blocked_n']}, "
            f"children {stats['child_n']}, "
            f"frontier ~{new_frontier_size}, "
            f"{time.monotonic() - t0:.1f}s "
            f"(select {t_batch - t0:.1f} / pipeline {t_judged - t_batch:.1f}"
            f" / write+commit {time.monotonic() - t_judged:.1f}, "
            f"jobs {self._job_counter() - jobs0})"
        )
        self._maintain(r)
        self.round = r + 1
        return True

    # --- layers -------------------------------------------------------
    def _select(self, r: int, ops: DataFrame | None):
        """Select layer: politeness rank + cap trim of the live frontier,
        materialized as this round's visit batch. Returns (batch, batch_n,
        fetch-join bucket ids or None, queued seeds this round does not
        visit), or None when there is nothing to visit."""
        frontier = self._live_frontier(ops)
        if frontier is None:
            return None
        cfg = self.cfg
        remaining = cfg.max_urls_to_visit - self.total_visited
        # skip the global cap trim (a full frontier sort) whenever the cap
        # cannot bind this round — the driver tracks the frontier size
        trim = remaining if (
            self.frontier_size is None or remaining < self.frontier_size
        ) else None
        # localCheckpoint: materializes the (small) batch once and cuts
        # lineage — every downstream job (fetch join, visit rows) reuses the
        # materialized rows instead of re-running the frontier rank. The
        # checkpoint job CARRIES this round's batch-side scalars as observed
        # metrics (count, fetch-join bucket ids, queued-seed hits) — zero
        # extra jobs for any of them.
        batch_obs = Observation(f"batch-{r}")
        obs_exprs = [F.count(F.lit(1)).alias("n")]
        if self.pages_buckets:
            obs_exprs.append(
                F.collect_set(pages_bucket("url", self.pages_buckets))
                .alias("buckets")
            )
        if self._queued_seeds:
            obs_exprs.append(
                F.collect_set(
                    F.when(
                        F.col("canon").isin(sorted(self._queued_seeds)),
                        F.col("canon"),
                    )
                ).alias("visited_seeds")
            )
        batch = (
            frontier_mod.select_batch(
                frontier, trim, cfg.scheduling, cfg.per_host_quota
            )
            .observe(batch_obs, *obs_exprs)
            .localCheckpoint()
        )
        # the ranged cap trim persists a range-partitioned copy of the
        # frontier; the batch is materialized now, so free those blocks
        frontier_mod.release_temps()
        bstats = batch_obs.get
        batch_n = int(bstats["n"])
        if batch_n == 0:
            return None
        bids = None
        if self.pages_buckets:
            bids = [int(b) for b in (bstats.get("buckets") or [])]
        # seeds visited this round leave the queued set; applied to
        # self._queued_seeds only at commit time (failure restores cleanly)
        queued_now = self._queued_seeds - set(bstats.get("visited_seeds") or [])
        return batch, batch_n, bids, queued_now

    def _fetch_extract(self, r: int, batch, batch_n: int, bids):
        """Fetch+extract layer (J1): the batch joins the pages table, then
        the fused page UDF moves each html binary across Arrow exactly
        once, and only text/links survive. Returns the cached page hits
        and this round's ``fetched`` rows."""
        cfg = self.cfg
        hits = (
            self._pages_join(
                batch.select(
                    F.col("url"), F.col("canon").alias("p_canon"),
                    F.col("priority").alias("p_priority"),
                    F.col("depth").alias("p_depth"),
                ),
                batch_n, bids, "html",
            )
            .select(
                F.col("p_canon"), F.col("url").alias("p_ser"),
                "p_priority", "p_depth",
                self._extract_page(F.col("html")).alias("pg"),
                *([F.col("html")] if cfg.collect_html else []),
            )
            .cache()
        )
        # UA selection (C6): rotation is determinized per page; the
        # non-rotating branch pins the FIRST configured UA, matching the
        # reference's fallback (src/http.rs:16-20)
        if cfg.rotate_user_agents and len(cfg.user_agents) > 1:
            ua_col = F.element_at(
                F.array(*[F.lit(u) for u in cfg.user_agents]),
                (
                    F.pmod(F.xxhash64("p_canon"), F.lit(len(cfg.user_agents)))
                    + 1
                ).cast("int"),
            )
        else:
            ua_col = F.lit(cfg.user_agents[0] if cfg.user_agents else "")
        # C5: the reference stores body.trim() (src/http.rs:37) — trim
        # whitespace at both ends of the stored body. bytes.strip() inside
        # a pandas UDF, NOT a CAST-to-STRING round trip: non-UTF-8 bodies
        # must come back byte-identical apart from the trim.
        fetched = hits.select(
            F.col("p_canon").alias("url"),
            F.col("p_ser").alias("url_ser"),
            F.lit(r).alias("round"),
            F.col("pg.text").alias("text"),
            ua_col.alias("ua"),
            *(
                [self._trim_body(F.col("html")).alias("html")]
                if cfg.collect_html
                else []
            ),
        )
        return hits, fetched

    def _resolve_dedup(self, hits: DataFrame) -> DataFrame:
        """Resolve+dedup layer: a single explode over (kind, pos, href)
        structs, the fused resolve/validate/canonicalize UDF (one Arrow
        crossing per link), then first-observer dedup per canon."""
        link_structs = F.transform(
            "pg.link_links",
            lambda x, i: F.struct(
                F.lit(0).alias("kind"), i.alias("pos"), x.alias("href")
            ),
        )
        img_structs = F.transform(
            "pg.img_links",
            lambda x, i: F.struct(
                F.lit(1).alias("kind"), i.alias("pos"), x.alias("href")
            ),
        )
        cand = hits.select(
            "p_canon", "p_ser", "p_priority", "p_depth",
            F.explode(F.concat(link_structs, img_structs)).alias("c"),
        ).select(
            "p_canon", "p_ser", "p_priority", "p_depth",
            F.col("c.kind").alias("kind"), F.col("c.pos").alias("pos"),
            F.col("c.href").alias("href"),
        ).withColumn("rf", self._resolve(F.col("href"), F.col("p_ser")))
        cand = (
            cand.filter(F.col("rf.valid"))
            .select(
                "p_canon", "p_priority", "p_depth", "pos", "kind",
                F.col("rf.ser").alias("ser"),
                F.col("rf.domain").alias("host"),
                F.col("rf.canon").alias("canon"),
                F.col("rf.sha1").alias("sha1"),
            )
        )
        # first observer wins across the whole round (U1/U2 dedup; DFS order:
        # parent priority, links before imgs, document position). min_by
        # over a struct — NOT a row_number window: an aggregate gets
        # map-side partial combine, so the shuffle carries ~one row per
        # DISTINCT canon instead of every raw candidate (the fattest round
        # extracts ~25x more raw links than distinct canons; the window
        # form shuffled them all and dominated that round's wall). The
        # (p_priority, kind, pos) struct is a total order: p_priority is
        # unique per parent, (kind, pos) unique within a parent.
        payload = [c for c in cand.columns if c != "canon"]
        order = F.struct(F.col("p_priority"), F.col("kind"), F.col("pos"))
        return (
            cand.groupBy("canon")
            .agg(F.min_by(F.struct(*payload), order).alias("__w"))
            .select("canon", *[F.col(f"__w.{c}").alias(c) for c in payload])
        )

    def _judge(self, cand: DataFrame, ops: DataFrame | None) -> DataFrame:
        """Judge layer: seen filter (J2), completed filter (J3) and robots
        (J4/E4). Returns the cached judged candidates."""
        unseen = self._unseen(cand)
        # completed filter (J3): observable on fresh-seen resume runs
        if ops is not None:
            completed = ops.filter(F.col("op") == "complete").select(
                F.col("url").alias("c_url"), F.lit(True).alias("is_completed")
            ).distinct()
            unseen = (
                unseen.join(completed, unseen["canon"] == completed["c_url"], "left")
                .drop("c_url")
                .fillna({"is_completed": False})
            )
        else:
            unseen = unseen.withColumn("is_completed", F.lit(False))
        # robots (J4/E4), executor-side: candidates join the robots table
        # on host and the matcher parses per host-group INSIDE the pandas
        # UDF — no robots body ever collects to the driver (a web-scale
        # round touches 10^6+ hosts x multi-KB bodies). Spark broadcasts
        # the robots side only while it is small; past the threshold AQE
        # plans a shuffle join
        if self.robots_df is None or not self.cfg.respect_robots:
            return unseen.withColumn("blocked", F.lit(False)).cache()
        return (
            unseen.join(
                self.robots_df.select("host", "robots_txt"),
                on="host",
                how="left",
            )
            .withColumn(
                "blocked",
                F.when(F.col("is_completed"), F.lit(False)).otherwise(
                    self._blocked_join(
                        F.col("ser"), F.col("host"), F.col("robots_txt")
                    )
                ),
            )
            .drop("robots_txt")
            .cache()
        )

    def _round_stats(self, judged: DataFrame, hits: DataFrame) -> dict:
        """Stats layer: ONE job runs the whole fetch/extract/judge pipeline
        AND returns every per-round scalar and per-partition lineage stat:
        a union of per-partition aggregates over `judged` (extract stage)
        and `hits` (fetch stage). Materializing the judged branch fills
        BOTH caches (judged's plan passes through the hits cache node), so
        the concurrent table writes of the publish layer read cached
        data."""
        cfg = self.cfg
        child_ok = (
            (F.col("kind") == 0) & ~F.col("blocked") & ~F.col("is_completed")
        )
        img_ok = (
            (F.col("kind") == 1) & ~F.col("blocked") & ~F.col("is_completed")
        )
        child_ok_depth = child_ok if cfg.max_depth is None else (
            child_ok & (F.col("p_depth") + 1 <= F.lit(cfg.max_depth))
        )
        agg_exprs = [
            F.count("*").alias("cand_n"),
            F.sum(F.col("blocked").cast("int")).alias("blocked_n"),
            F.sum(F.col("is_completed").cast("int")).alias(
                "completed_dropped_n"
            ),
            F.sum(child_ok.cast("int")).alias("child_n"),
            F.sum(img_ok.cast("int")).alias("img_n"),
        ]
        # seeds rediscovered as children re-enter the queued-seed set; every
        # other canon is already seen (anti-joined), so only seeds need this
        if self._all_seed_canons:
            agg_exprs.append(
                F.collect_set(
                    F.when(
                        child_ok_depth
                        & F.col("canon").isin(sorted(self._all_seed_canons)),
                        F.col("canon"),
                    )
                ).alias("seed_canons")
            )
        # the no-assets image join prunes the pages scan to the image
        # candidates' buckets — ids ride this same job
        need_img_buckets = (
            cfg.collect_images
            and self.assets is None
            and bool(self.pages_buckets)
        )
        if need_img_buckets:
            agg_exprs.append(
                F.collect_set(
                    F.when(img_ok, pages_bucket("ser", self.pages_buckets))
                ).alias("img_buckets")
            )
        jstats = (
            judged.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*agg_exprs)
            .withColumn("stage", F.lit("extract"))
        )
        fstats = (
            hits.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("fetched_n"))
            .withColumn("stage", F.lit("fetch"))
        )
        stat_rows = jstats.unionByName(
            fstats, allowMissingColumns=True
        ).collect()
        part_stats = [row for row in stat_rows if row["stage"] == "extract"]
        fetch_parts = [row for row in stat_rows if row["stage"] == "fetch"]
        stats = {
            c: int(sum((row[c] or 0) for row in part_stats))
            for c in ("cand_n", "blocked_n", "completed_dropped_n",
                      "child_n", "img_n")
        }
        stats["fetched_n"] = int(
            sum((row["fetched_n"] or 0) for row in fetch_parts)
        )
        stats["part_stats"] = part_stats
        stats["fetch_parts"] = fetch_parts
        stats["requeued"] = {
            c for row in part_stats for c in (row["seed_canons"] or [])
        } if self._all_seed_canons else set()
        stats["img_bids"] = sorted(
            {int(b) for row in part_stats for b in (row["img_buckets"] or [])}
        ) if need_img_buckets else None
        return stats

    def _emit(self, r, batch, judged, fetched, stats, queued_now):
        """Emit layer: this round's table writes as (table, rows) pairs —
        visit + block rows, fetched pages, images, next-frontier rows and
        completion edges. Drain rounds skip empty-side writes entirely (a
        round with no images launches no images job). Returns the writes
        and the queued-seed set after this round."""
        cfg = self.cfg
        # visit rows (upsert log): the DFS priority string IS the
        # within-round order key, so no global row_number sort is needed;
        # written together with this round's block rows in one delta
        visits = batch.select(
            F.col("canon").alias("url"),
            F.col("referrer"),
            F.lit(r).alias("round"),
            F.col("priority"),
            F.lit("visit").alias("op"),
        )
        # blocked rows (S10): visited rows that were never fetched
        blocked = judged.filter(F.col("blocked") & ~F.col("is_completed"))
        block_ops = blocked.select(
            F.col("canon").alias("url"),
            F.col("p_canon").alias("referrer"),
            F.lit(r).alias("round"),
            # a unique, deterministic order key after every visit priority
            F.concat(
                F.col("p_priority"), F.lit("/~b"),
                F.col("kind").cast("string"), F.lit("-"),
                F.col("pos").cast("string"),
            ).alias("priority"),
            F.lit("block").alias("op"),
        )
        writes = [("visited_ops", visits.unionByName(block_ops))]
        if stats["fetched_n"] > 0:
            writes.append(("fetched", fetched))

        allowed = judged.filter(~F.col("blocked") & ~F.col("is_completed"))
        # children: next frontier rows + completion edges (A4)
        children = allowed.filter(F.col("kind") == 0)
        if cfg.max_depth is not None:
            children = children.filter(F.col("p_depth") + 1 <= cfg.max_depth)
        w_rank = Window.partitionBy("p_canon").orderBy("pos")
        children = children.withColumn(
            "rank", F.row_number().over(w_rank) - 1
        ).withColumn(
            "priority", frontier_mod.child_priority(F.col("p_priority"), F.col("rank"))
        )
        new_rows = children.select(
            F.col("ser").alias("url"), "canon", "sha1", "host",
            F.col("p_canon").alias("referrer"), "priority",
            (F.col("p_depth") + 1).alias("depth"),
            F.lit(r).alias("added_round"),
        )
        edges = children.select(
            F.col("p_canon").alias("parent"),
            F.lit(r).alias("parent_round"),
            F.col("canon").alias("child"),
        )
        if stats["child_n"] > 0:
            # frontier is adds-only: O(children) written per round; visited
            # rows are masked at read time and physically dropped by the
            # periodic fold (never an O(frontier) rewrite per round).
            # A canon already queued must not be queued twice: only SEEDS
            # can hit this (every other frontier row is in the seen set,
            # which the candidates were anti-joined against). Both inputs
            # of the driver-side queued-seed set rode earlier jobs for
            # free: seeds visited this round came off the batch observation
            # (queued_now), seeds re-discovered as children off the stats
            # aggregate (requeued).
            writes += [
                ("edges", edges),
                ("frontier", self._drop_queued(new_rows, queued_now)),
            ]
        if cfg.collect_images and stats["img_n"] > 0:
            writes.append(("images", self._image_rows(r, allowed, stats)))
        # requeued is computed pre-filter, which is equivalent: a canon
        # still in queued_now is already in the set, so the union is a
        # no-op for it
        return writes, queued_now | stats["requeued"]

    def _image_rows(
        self, r: int, allowed: DataFrame, stats: dict
    ) -> DataFrame:
        """Images (S2/S8/F5): the image fetch joins the assets table;
        success requires an asset row whose Content-Type starts with
        'image/' (reference src/http.rs:70-76) and the BLOB is stored
        (src/sqlite.rs:33-39). Without an assets table, fall back to
        presence-in-pages metadata-only semantics."""
        img_rows = allowed.filter(F.col("kind") == 1).select(
            F.col("p_canon").alias("referrer"),
            F.col("canon").alias("url"),
            F.col("ser").alias("url_ser"),
            self._image_name(F.col("ser")).alias("name"),
            F.lit(r).alias("round"),
        )
        if self.assets is not None:
            adf = self.assets.select(
                F.col("url").alias("url_ser"),
                "content_type",
                F.col("bytes").alias("image"),
            )
            return (
                img_rows.join(adf, "url_ser", "left")
                .withColumn(
                    "success",
                    F.coalesce(
                        F.col("content_type").startswith("image/"),
                        F.lit(False),
                    ),
                )
                .withColumn(
                    "image",
                    F.when(F.col("success"), F.col("image")),
                )
            )
        # presence-in-pages fallback mirrors the fetch join: prune the
        # pages scan to the image candidates' buckets (ids rode the stats
        # job) and size the join from the IMAGE candidate count, not the
        # batch count
        img_hit = self._pages_join(
            img_rows.select(F.col("url_ser").alias("url")),
            stats["img_n"], stats["img_bids"],
        ).select(F.col("url").alias("url_ser"), F.lit(True).alias("success"))
        return (
            img_rows.join(img_hit, "url_ser", "left")
            .fillna({"success": False})
            .withColumn("content_type", F.lit(None).cast("string"))
            .withColumn("image", F.lit(None).cast("binary"))
        )

    def _publish(
        self, rnd: int, writes, extras: dict, seen: DataFrame | None = None,
        bloom_tag: str = "", stage_local=None,
    ) -> None:
        """Publish layer, shared by rounds and stream ingest: stage every
        write of one commit, then commit them atomically at ``rnd`` with
        ``extras``. ``seen`` rows (canon, sha1) also enter the seen set
        and the bloom (a new snapshot the manifest points to).

        Every input reads only materialized data, so the writes and the
        bloom update run CONCURRENTLY (independent Spark jobs share idle
        task slots; the catalog stages deltas under a lock and nothing
        publishes until commit). ``stage_local`` runs once every write has
        landed, before the commit, so the ``metrics.wall_s`` it stamps
        covers the writes. A failure anywhere drops ALL staged deltas (not
        just the failing task's own), or a later commit on this Catalog
        would publish a half-round, breaking the atomic-round invariant
        that crash recovery relies on."""
        tasks = [
            lambda name=name, df=df: self.catalog.append(name, df, rnd)
            for name, df in writes
        ]
        if seen is not None:
            # every observed survivor enters seen (Q6)
            new_seen = seen.select(
                F.col("canon").alias("url"), "sha1", F.lit(rnd).alias("round")
            )
            bloom_path = os.path.join(
                self.catalog.root, f"bloom-{rnd:06d}{bloom_tag}.npy"
            )

            def _bloom_task():
                self.bloom.add_dataframe(new_seen, sha1_col="sha1")
                self.bloom.save(bloom_path)

            tasks += [
                lambda: self.catalog.append("seen", new_seen, rnd), _bloom_task
            ]
            extras = {**extras, "bloom": bloom_path}
        try:
            with ThreadPoolExecutor(max_workers=max(1, len(tasks))) as pool:
                futures = [pool.submit(t) for t in tasks]
                for f in futures:
                    f.result()  # re-raise any failure before commit
            if stage_local is not None:
                stage_local()
            self.catalog.commit(rnd, extras)
        except BaseException:
            self.catalog.abort()
            raise

    def _maintain(self, r: int) -> None:
        """Maintenance layer: keep merge-on-read cost flat by folding long
        delta chains (the Iceberg rewrite_data_files analogue) — every
        catalog table but the frontier, which has its own fold — then GC
        bloom snapshots."""
        for t in self.catalog.tables():
            if t != "frontier" and self.catalog.delta_count(t) > 16:
                self.catalog.compact(t, r)
        if (
            self.catalog.delta_count("frontier")
            > self.cfg.frontier_fold_deltas
        ):
            self._fold_frontier(r)
        # disk GC: bloom snapshots strictly older than the one the manifest
        # references (rounds may skip bloom writes, so "r - 2" is not safe)
        ref_bloom = self.catalog.extra("bloom")
        if ref_bloom:
            for p in glob.glob(os.path.join(self.catalog.root, "bloom-*.npy")):
                if p < ref_bloom:
                    try:
                        os.remove(p)
                    except OSError:
                        pass

    # ------------------------------------------------------------------
    def _pages_join(
        self, side: DataFrame, n: int, bids, *cols: str
    ) -> DataFrame:
        """The fetch simulation: ``side`` (keyed by ``url``, ``n`` rows)
        inner-joins the pages table, selecting ``cols`` from pages.
        SPJ-style bucket pruning: with a url-bucketed pages layout the scan
        reads only the partitions in ``bids`` (<= n_buckets ids observed
        for free on a job that already runs — O(buckets) driver state,
        never O(rows)), so a small side reads a small fraction of the
        100-TB table and a huge side's join runs over pruned input. Size
        rule: a side of at most ``fetch_broadcast_limit`` rows broadcasts
        INTO the pages scan (pages stream, no shuffle); a larger side is
        the build side of a shuffle-hash join (a 10^8-row side must never
        be broadcast)."""
        pages = self.pages
        if bids is not None:
            pages = pages.filter(F.col("bucket").isin(bids))
        if n <= self.cfg.fetch_broadcast_limit:
            side = F.broadcast(side)
        else:
            side = side.hint("shuffle_hash")
        return pages.select("url", *cols).join(side, "url", "inner")

    def _unseen(self, cand: DataFrame) -> DataFrame:
        """Seen filter (J2): bloom prefilter + exact anti-join against the
        committed seen set."""
        return filter_unseen(
            cand, self.catalog.read("seen"), self.bloom,
            sha1_col="sha1", cand_key="canon", seen_key="url",
        )

    @staticmethod
    def _drop_queued(rows: DataFrame, queued: set[str]) -> DataFrame:
        """Drop rows whose canon is still queued as a seed (a canon must
        never be queued twice)."""
        if not queued:
            return rows
        return rows.filter(~F.col("canon").isin(sorted(queued)))

    def _live_frontier(self, ops: DataFrame | None) -> DataFrame | None:
        """Merge-on-read view of the adds-only frontier: a row is live iff
        no LATER round visited its canon. ``max(visit round) <= added_round``
        (not ``<``) keeps the re-queued-seed case correct — within a round,
        visits happen at the start and discovery at the end, so a canon
        visited in round r and re-discovered in round r is queued again.
        Visits at or before the last fold are already applied physically,
        so the mask join scans only the visits of the last few rounds."""
        lc = int(self.catalog.extra("frontier_folded_round", -1))
        adds = self.catalog.read("frontier")
        if adds is None:
            return None
        if ops is None:
            return adds
        vmax = (
            ops.filter((F.col("op") == "visit") & (F.col("round") > lc))
            .groupBy("url")
            .agg(F.max("round").alias("__vmax"))
            .withColumnRenamed("url", "canon")
        )
        return (
            adds.join(vmax, on="canon", how="left")
            .filter(
                F.col("__vmax").isNull()
                | (F.col("__vmax") <= F.col("added_round"))
            )
            .drop("__vmax")
        )

    def _fold_frontier(self, r: int) -> None:
        """Physically drop visited rows and fold the delta chain to one
        file set — the amortized O(live) rewrite (every
        ``frontier_fold_deltas`` rounds) that replaces the old
        O(frontier)-per-round overwrite."""
        live = self._live_frontier(self.catalog.read("visited_ops"))
        if live is None:
            return
        self.catalog.overwrite("frontier", live, r)
        self.catalog.commit(r, {"frontier_folded_round": r})
        self.catalog.gc_superseded("frontier")

    # ------------------------------------------------------------------
    def ingest_candidates(self, cand_catalog) -> int:
        """Fold stream-ingested page captures (streaming.start_page_ingest
        writes a ``candidates`` table in its OWN catalog) into the frontier
        at a round boundary. Returns the number of rows queued.

        Semantics mirror the engine's own child discovery, through the
        same seen filter and publish path: candidates are deduped on
        canon, anti-joined against the seen set (bloom-routed), and —
        crucially — ALSO entered into the seen set + bloom, which
        preserves the frontier-dedup invariant ("every frontier row except
        seeds is in seen"); a page that later links to an ingested canon is
        dropped by the normal seen anti-join instead of double-queueing.
        Each survivor becomes a new DFS root: top-level seed-class priority
        continuing the seed index sequence, depth 0, referrer INGESTED. A
        high-water mark on the stream's batch ids makes repeated calls
        idempotent. The global order window here is bounded by one ingest
        increment (not the frontier), so the single-partition sort is fine.
        """
        last = int(self.catalog.extra("ingested_candidates_batch", -1))
        stream_mark = int(cand_catalog.extra("ingest_last_batch", -1))
        cand = cand_catalog.read("candidates")
        if cand is None or stream_mark <= last:
            return 0
        r = self.round
        cand = cand.filter(F.col("discovered_batch") > last)
        # first observer wins within the increment (stable across retries)
        cand = frontier_mod.first_occurrence(
            cand, ["canon"], [F.col("discovered_batch"), F.col("url")]
        )
        unseen = self._drop_queued(self._unseen(cand), self._queued_seeds)
        w = Window.orderBy("discovered_batch", "canon")
        seq0 = int(self.catalog.extra("ingest_seed_seq", len(self.cfg.seeds)))
        ranked = unseen.withColumn("__rk", F.row_number().over(w) - 1)
        prio = frontier_mod.seed_priority_col(F.col("__rk") + F.lit(seq0))
        new_rows = ranked.select(
            "url", "canon", "sha1", "host",
            F.lit("INGESTED").alias("referrer"),
            prio.alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(r - 1).alias("added_round"),
        ).localCheckpoint()
        n = new_rows.count()
        if n == 0:
            self._publish(
                r - 1, [], {"ingested_candidates_batch": stream_mark}
            )
            return 0
        requeued = {
            row["canon"]
            for row in new_rows.filter(
                F.col("canon").isin(sorted(self._all_seed_canons))
            ).select("canon").collect()
        } if self._all_seed_canons else set()
        queued_after = self._queued_seeds | requeued
        new_size = (
            None if self.frontier_size is None else self.frontier_size + n
        )
        self._publish(
            r - 1, [("frontier", new_rows)],
            {
                "ingested_candidates_batch": stream_mark,
                "ingest_seed_seq": seq0 + n,
                "frontier_size": new_size,
                "queued_seeds": sorted(queued_after),
            },
            seen=new_rows, bloom_tag="i",
        )
        self.frontier_size = new_size
        self._queued_seeds = queued_after
        self._debug_log(f"ingested {n} streamed candidates as new roots")
        return n

    # ------------------------------------------------------------------
    def finalize(self) -> None:
        """Completion propagation (A4, quirks Q4/Q5/Q10): iterative
        bad-call fixpoint over the per-visit edge tree, bounded by crawl
        depth. All joins are O(visited), never O(frontier)."""
        ops = self.catalog.read("visited_ops")
        if ops is None:
            return
        # (url, round) visit rows are already unique — one row per batch
        # row, batches are deduped, and a re-queued seed re-visits in a
        # LATER round — so no distinct shuffle is needed here (dup marks
        # are deduped at the end regardless)
        visits = ops.filter(F.col("op") == "visit").select("url", "round").cache()
        fetched = self.catalog.read("fetched")
        fetched_visits = (
            fetched.select("url", "round").cache()
            if fetched is not None
            else self._empty("url string, round int")
        )
        edges_df = self.catalog.read("edges")
        if edges_df is None:
            edges_df = self._empty(EDGES_SCHEMA)
        # bad(0): children never visited (cap-truncated frontier remainder)
        bad = (
            edges_df.select(F.col("child").alias("url"))
            .distinct()
            .join(visits.select("url").distinct(), "url", "left_anti")
            .localCheckpoint()
        )
        if bad.isEmpty():
            # the common drained-frontier case: every discovered child was
            # visited, so no visit has a failed call — skip the last-edge
            # resolution and the whole propagation loop (they were ~half
            # the finalize wall on the 400k fixture). fetched rows are a
            # subset of visits by construction (every fetched row comes
            # from a batch row, which is a visit), so `visits semi-join
            # fetched` reduces to fetched itself — no join needed.
            complete = fetched_visits.select("url").distinct()
            self._write_complete_marks(complete)
            visits.unpersist()
            fetched_visits.unpersist()
            return
        last_visit = visits.groupBy("url").agg(F.max("round").alias("last_round"))
        # edges attached to the parent's LAST visit (only the seed can have
        # more than one; its re-visit has no edges -> vacuous success, Q10)
        last_edges = (
            edges_df.join(
                last_visit,
                (edges_df["parent"] == last_visit["url"])
                & (edges_df["parent_round"] == last_visit["last_round"]),
                "inner",
            )
            .select("parent", "parent_round", "child")
            .cache()
        )
        # DELTA iteration: each step joins the edge table against only the
        # NEWLY-bad nodes (not the whole accumulated set) — per-step work
        # shrinks with the delta instead of re-scanning O(|bad|) matches,
        # so total work is O(edges × graph depth) worst case but O(edges +
        # Σ|delta|) in the common shallow-crawl case. TWO levels propagate
        # per loop iteration, halving the per-iteration driver actions
        # (isEmpty + checkpoint each cost a full job-floor latency; the
        # extra lazy join for an already-empty level is free).
        def _parents_of(d):
            return (
                last_edges.join(
                    d.withColumnRenamed("url", "child"), "child", "inner"
                )
                .select(F.col("parent").alias("url"))
                .distinct()
                .join(bad, "url", "left_anti")
            )

        # ancestor chains cannot exceed the crawl depth when it is bounded
        max_loops = (
            None if self.cfg.max_depth is None
            else self.cfg.max_depth // 2 + 1
        )
        delta = bad
        loops = 0
        while max_loops is None or loops < max_loops:
            loops += 1
            lvl1 = _parents_of(delta).localCheckpoint(eager=False)
            lvl2 = _parents_of(lvl1).join(lvl1, "url", "left_anti")
            delta = lvl1.unionByName(lvl2).localCheckpoint(eager=False)
            if delta.isEmpty():
                break
            bad = bad.unionByName(delta).localCheckpoint()
        # a visit is complete iff it fetched ok and no edge-child call failed
        bad_visits = (
            edges_df.join(bad.withColumnRenamed("url", "child"), "child", "inner")
            .select(
                F.col("parent").alias("url"),
                F.col("parent_round").alias("round"),
            )
            .distinct()
        )
        # fetched ⊆ visits (url, round) by construction, so the semi-join
        # against visits is a no-op — anti-join the bad visits directly
        complete = (
            fetched_visits.join(bad_visits, ["url", "round"], "left_anti")
            .select("url")
            .distinct()
        )
        self._write_complete_marks(complete)
        visits.unpersist()
        fetched_visits.unpersist()
        last_edges.unpersist()

    def _write_complete_marks(self, complete: DataFrame) -> None:
        marks = complete.select(
            "url",
            F.lit(None).cast("string").alias("referrer"),
            F.lit(self.round).alias("round"),
            F.lit("").alias("priority"),
            F.lit("complete").alias("op"),
        )
        self.catalog.append("visited_ops", marks, self.round)
        self.catalog.commit(self.round, {"total_visited": self.total_visited})

    # ------------------------------------------------------------------
    def read_visited(self) -> DataFrame:
        """Reconstruct the visited table from the op log (merge-on-read:
        latest visit/block row wins for referrer/is_blocked; is_complete is
        sticky — exactly SQLite's upsert semantics, src/sqlite.rs:24-59)."""
        ops = self.catalog.read("visited_ops")
        if ops is None:
            return self._empty(
                "url string, referrer string, is_blocked boolean, "
                "last_visited_round int, is_complete boolean"
            )
        rb = ops.filter(F.col("op") != "complete")
        w = Window.partitionBy("url").orderBy(F.desc("round"), F.desc("priority"))
        latest = (
            rb.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "url", "referrer",
                (F.col("op") == "block").alias("is_blocked"),
                F.col("round").alias("last_visited_round"),
            )
        )
        completed = (
            ops.filter(F.col("op") == "complete")
            .select("url")
            .distinct()
            .withColumn("is_complete", F.lit(True))
        )
        return latest.join(completed, "url", "left").fillna({"is_complete": False})

    def read_seen(self) -> DataFrame:
        seen = self.catalog.read("seen")
        if seen is None:
            return self._empty("url string, sha1 string, round int")
        return seen.select("url").distinct()

    def visit_log(self) -> DataFrame:
        """Visit events in order: (url, referrer, round, priority)."""
        ops = self.catalog.read("visited_ops")
        if ops is None:
            return self._empty(OPS_SCHEMA)
        return ops.filter(F.col("op") == "visit").orderBy("round", "priority")

    def link_graph(self) -> DataFrame:
        """The crawl's distinct canonical link graph as (src, dst) — the
        input shape crabspark.graph's degree/PageRank operators take.
        Self-loops dropped (a page linking to itself contributes no
        authority and breaks the dangling classification)."""
        edges = self.catalog.read("edges")
        if edges is None:
            return self._empty("src string, dst string")
        return (
            edges.select(
                F.col("parent").alias("src"), F.col("child").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def host_graph(self) -> DataFrame:
        """The crawl's link graph collapsed to host level — one row per
        (src_host, dst_host) with link count / distinct source pages /
        internal flag. Edge nodes are STORAGE-canonical URLs
        (format_url_for_storage: scheme+www+query stripped, so the host
        is everything before the first '/'); extraction is one JVM-side
        split, no Python in the path. The collapse itself is
        crabspark.graph.host_graph's single map-side-combinable agg."""
        from crabspark.graph import host_graph as _host_graph

        return _host_graph(self.link_graph(), host_of="split(NODE, '/')[0]")
