"""Concrete interval-pull driver with Google-Analytics-report semantics —
S8 made concrete end-to-end over the interval-sync machinery.

The sandbox has no network, so the "API" is a parquet-backed event store;
everything EXCEPT the HTTP transport mirrors the reference driver
(all semantics re-derived, no code ported):

- day-granularity interval enumeration, newest first, ``days_back`` days
  from ``now`` (/root/reference/server/drivers/google_analytics.go:109-122;
  default days-back in drivers/factory.go:27);
- per-interval "report": dimensions x metrics aggregation with the
  metricsCast int/float typing rule (google_analytics.go:24-46,176-243) —
  counts come back as longs, monetary sums as exact DECIMAL (the engine's
  determinism-safe stand-in for the reference's float cast);
- the trailing-lag change signature
  ``sig(interval) = min(now - lag, interval.upper)``
  (drivers/time_interval.go:32-39): intervals whose upper endpoint is
  inside the lag window get a moving signature, so they re-sync on every
  run (upstream data still mutating); older intervals freeze to UPTODATE;
- interval enrichment columns ``_time_chunk`` / ``_interval_start`` /
  ``_interval_end`` (events/enricher.go:52-56) with the
  ``TZ_GRANULARITY_time`` chunk-id format (time_interval.go:41-43);
- deterministic report-row id: md5 over the sorted dimension values plus
  the chunk id (analog of uuid/uuid.go:37-46's sorted key-hash).

**Visibility model**: an event is visible to the upstream API only once it
has ARRIVED (``arrival_col < now``). Arrival lags event time — which is
exactly why the reference re-reads the trailing lag window instead of
trusting a day the moment it ends. An arrival later than the lag window
is permanently missed (frozen interval), faithfully reproducing the
reference's trade-off.

At 100 TB: each interval is an independent bounded Spark job whose
destination write is a stats-pruned ``overwrite_where`` (O(chunk), not
O(table)); intervals can sync concurrently (optimistic commits), which is
the reference's 16-task worker pool re-expressed.

This shape also covers the Facebook-Marketing / Google-Play report
drivers (drivers/facebook_marketing.go:108, google_play.go — same
day-interval enumeration + lag signature, different dimension/metric
sets): instantiate with the connector's dims/metrics and a ``lag_days``
matching its attribution window. Full-snapshot sources (Firebase/Redis)
use :class:`~jitsu_spark.sources.snapshot_driver.SnapshotCollectionDriver`
instead.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jitsu_spark.sources.interval_sync import IntervalDriver, TimeInterval

#: reference SignatureLayout (time_interval.go:7)
_SIG_FMT = "%Y-%m-%dT%H:%M:%S.000Z"


@dataclass
class GaShapedReportDriver(IntervalDriver):
    """File-backed pull driver shaped like the GA reporting driver.

    ``metrics`` maps output column -> (agg, source column): agg is one of
    ``count`` (of rows; source ignored), ``sum_long`` (exact integer sum),
    ``sum_money`` (DECIMAL(18,2)-cast sum — order-insensitive, unlike a
    double sum). ``now`` is the driver's deterministic wall clock; mutate
    it between ``run_once`` calls to simulate successive scheduled syncs.
    """

    source_path: str
    ts_col: str
    dimensions: list[str]
    metrics: dict[str, tuple[str, str]]
    now: str  # "YYYY-mm-dd HH:MM:SS"
    days_back: int = 30
    lag_days: int = 1  # reference: AddDate(0, 0, -1)
    arrival_col: str | None = None  # visibility column; None -> ts_col
    tz_id: str = "UTC"
    #: "DAY" (GA / FB-Marketing), "MONTH" (Google-Play bucket reports,
    #: google_play.go:27 intervalLayout "200601" + NewTimeInterval(MONTH,..))
    #: or "YEAR" (drivers/granularity.go:13,23,39,55 — Lower/Upper snap to
    #: Jan-1 year bounds; no shipped reference driver uses it, kept for
    #: shape fidelity)
    granularity: str = "DAY"
    months_back: int = 12  # interval count when granularity == "MONTH"
    years_back: int = 3  # interval count when granularity == "YEAR"
    #: literal columns stamped on every report row AND folded into the
    #: report-row id (e.g. the FB/GPlay account_id — rows belong to an
    #: account the way insights rows belong to /act_<id>/insights)
    constants: dict[str, str] = field(default_factory=dict)
    #: rows per page frame (None = single shot). Models the reference's
    #: paginated report loop (google_analytics.go:124): the interval's
    #: report comes back as ceil(rows/page_size) frames that the sync job
    #: unions into ONE chunk commit. The row_number window is over the
    #: AGGREGATED report (bounded by dimension cardinality), never the
    #: raw event volume, so the single-partition sort stays tiny.
    page_size: int | None = None
    read_log: list[str] = field(default_factory=list)  # intervals actually read
    page_log: list[str] = field(default_factory=list)  # "<interval>#p<k>" fetched
    #: memoized source frame: ``spark.read.parquet`` re-lists the store and
    #: re-reads footers on EVERY call (~0.15-0.2 s of driver-side latency
    #: per interval measured at sf0.1 — r7). Keyed by (session, ``now``):
    #: intervals of ONE scheduled run share the listing, while the
    #: documented between-runs mutation (bump ``now``) re-lists — and with
    #: an unchanged ``now`` every non-ALL interval is signature-skipped
    #: anyway, so a stale listing can never change what a run syncs.
    _src_cache: dict = field(default_factory=dict, repr=False)

    def _now(self) -> dt.datetime:
        return dt.datetime.fromisoformat(self.now)

    def available_intervals(self) -> list[TimeInterval]:
        out = []
        if self.granularity == "MONTH":
            m0 = self._now().replace(
                day=1, hour=0, minute=0, second=0, microsecond=0
            )
            cur = m0
            for _ in range(self.months_back):
                nxt = (cur + dt.timedelta(days=32)).replace(day=1)
                out.append(
                    TimeInterval(
                        id=f"{self.tz_id}_MONTH_{cur:%Y-%m}",
                        lower=f"{cur:%Y-%m-%d %H:%M:%S}",
                        upper=f"{nxt:%Y-%m-%d %H:%M:%S}",
                    )
                )
                cur = (cur - dt.timedelta(days=1)).replace(day=1)
            return out
        if self.granularity == "YEAR":
            y0 = self._now().replace(
                month=1, day=1, hour=0, minute=0, second=0, microsecond=0
            )
            for i in range(self.years_back):
                cur = y0.replace(year=y0.year - i)
                nxt = cur.replace(year=cur.year + 1)
                out.append(
                    TimeInterval(
                        id=f"{self.tz_id}_YEAR_{cur:%Y}",
                        lower=f"{cur:%Y-%m-%d %H:%M:%S}",
                        upper=f"{nxt:%Y-%m-%d %H:%M:%S}",
                    )
                )
            return out
        if self.granularity != "DAY":
            raise ValueError(f"unknown granularity {self.granularity!r}")
        day0 = self._now().replace(hour=0, minute=0, second=0, microsecond=0)
        for i in range(self.days_back):
            d = day0 - dt.timedelta(days=i)
            out.append(
                TimeInterval(
                    id=f"{self.tz_id}_DAY_{d:%Y-%m-%d}",
                    lower=f"{d:%Y-%m-%d %H:%M:%S}",
                    upper=f"{d + dt.timedelta(days=1):%Y-%m-%d %H:%M:%S}",
                )
            )
        return out

    def signature(self, interval: TimeInterval) -> str:
        lag = self._now() - dt.timedelta(days=self.lag_days)
        upper = dt.datetime.fromisoformat(interval.upper)
        return min(lag, upper).strftime(_SIG_FMT)

    def layout_signature(self) -> str:
        # everything that changes which rows land on which page frame
        return json.dumps(
            {
                "page_size": self.page_size,
                "dimensions": self.dimensions,
                "metrics": {k: list(v) for k, v in self.metrics.items()},
                "constants": self.constants,
                "granularity": self.granularity,
            },
            sort_keys=True,
        )

    def read_interval_pages(
        self, spark: SparkSession, interval: TimeInterval, start_page: int = 0
    ):
        if self.page_size is None:
            if start_page == 0:
                yield self.read_interval(spark, interval)
            return
        from pyspark.sql import Window

        df = self.read_interval(spark, interval)
        w = Window.orderBy("report_id")
        # eager localCheckpoint: the report is computed ONCE; the count
        # and every page slice (consumed lazily by the sync job's union
        # commit, AFTER this generator is exhausted) read the stored
        # blocks instead of re-running the scan+aggregate per page
        # (pages+1 recomputes per interval). Blocks are freed by the
        # ContextCleaner when the frame is released; executor loss mid-
        # sync fails the interval, which the signature gate re-syncs.
        numbered = df.withColumn("_rn", F.row_number().over(w)).localCheckpoint(
            eager=True
        )
        n = numbered.count()  # bounded round trip, like the reference's
        # page loop discovering the end of the report
        for k, start in enumerate(range(0, max(n, 1), self.page_size)):
            if k < start_page:
                continue  # already spooled by a prior run — not refetched
            self.page_log.append(f"{interval.id}#p{k}")
            yield numbered.filter(
                (F.col("_rn") > start) & (F.col("_rn") <= start + self.page_size)
            ).drop("_rn")

    def read_interval(
        self, spark: SparkSession, interval: TimeInterval
    ) -> DataFrame:
        self.read_log.append(interval.id)
        # id(spark) cannot be reused while the entry lives: the cached
        # DataFrame holds its session (DataFrame._session), so it stays alive
        ck = (id(spark), self.now)
        df = self._src_cache.get(ck)
        if df is None:
            self._src_cache.clear()  # one live entry: prior runs' listings
            df = spark.read.parquet(self.source_path)
            self._src_cache[ck] = df
        acol = self.arrival_col or self.ts_col
        now_ts = F.lit(self.now).cast("timestamp")
        df = df.filter(F.col(acol) < now_ts).filter(
            (F.col(self.ts_col) >= F.lit(interval.lower).cast("timestamp"))
            & (F.col(self.ts_col) < F.lit(interval.upper).cast("timestamp"))
        )
        aggs = []
        for name, (agg, col) in self.metrics.items():
            if agg == "count":
                aggs.append(F.count(F.lit(1)).alias(name))
            elif agg == "sum_long":
                aggs.append(F.sum(F.col(col).cast("long")).alias(name))
            elif agg == "sum_money":
                aggs.append(F.sum(F.col(col).cast("decimal(18,2)")).alias(name))
            else:
                raise ValueError(f"unknown metric agg {agg!r}")
        rep = df.groupBy(*self.dimensions).agg(*aggs)
        dim_cols = sorted(self.dimensions)
        const_cols = sorted(self.constants)
        # NULL-safe, delimiter-safe id: concat_ws skips NULLs, so two
        # dimension tuples differing only in NULL position would collide
        # into one merge key; to_json keeps nulls and escapes delimiters.
        # Constants (account id) participate: two accounts' reports for
        # the same dimension tuple must not collide in a shared table.
        return rep.select(
            F.md5(
                F.to_json(
                    F.struct(
                        F.lit(interval.id).alias("_chunk"),
                        *[
                            F.lit(self.constants[c]).alias(c)
                            for c in const_cols
                        ],
                        *[F.col(d).cast("string").alias(d) for d in dim_cols],
                    ),
                    {"ignoreNullFields": "false"},
                )
            ).alias("report_id"),
            F.lit(interval.lower).cast("timestamp").alias("report_date"),
            *[F.lit(self.constants[c]).alias(c) for c in const_cols],
            *self.dimensions,
            *self.metrics,
            F.lit(interval.id).alias("_time_chunk"),
            F.lit(interval.lower).cast("timestamp").alias("_interval_start"),
            F.lit(interval.upper).cast("timestamp").alias("_interval_end"),
        )
