"""``medallion_daily``: the reference's nightly medallion batch.

Day 0 full-loads the first 80% of the order-date range; each
incremental day adds the next date slice, changes the tracked columns
of a seed-chosen slice of customers, and corrects a slice of
earlier order lines.  A day runs, in order: ``bronze_ingest`` of
order_lines (the source's lineitem joined to its orders at ingest, as
the reference does) and customer; ``silver_transform`` (latest row
per key); ``gold_scd2`` for
the customer dim; the gold fact upsert through
``DeltaLiteTable.merge`` on ``(l_orderkey, l_linenumber)`` against the
current dim rows; ``validate``.  After the last day the gold KPI read
set runs against the Delta table the days wrote.

The source is the reference tables (refdata.py); the seed picks the
changed customers and corrected lines.  The reference lineitem repeats
``(l_orderkey, l_linenumber)`` (45 832 distinct pairs in 60 000 rows),
so the source renumbers each order's lines 1..n in file order to make
the fact's merge key a key; every other value is the reference's.

Checks (outside the timers): gold fact rows and net revenue per year,
current-dim row counts and SCD2 versions per key, against a DuckDB
recomputation from the source files.
"""

from __future__ import annotations

import json
import shutil
import time
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import measure

# One incremental day: over five seeds a second day after it spread
# as widely across runs as the first, and cost 12 s a run.
INCR_DAYS = 1
FULL_LOAD_FRAC = 0.8
CHANGE_FRAC = 0.02  # customers whose tracked columns change per day
CORRECT_FRAC = 0.01  # earlier order lines corrected per day
DAY0_TS = np.datetime64("2024-03-01T02:00:00", "us")
CUSTOMER_TRACKED = ["c_nationkey", "c_acctbal", "c_mktsegment"]
KEYS = {
    "order_lines": ["l_orderkey", "l_linenumber"],
    "customer": ["c_custkey"],
}


# ---------------------------------------------------------------------------
# inputs


def _day_ts(day: int) -> np.datetime64:
    return DAY0_TS + np.timedelta64(day * 86_400_000_000, "us")


def _stamp(t: pa.Table, day: int) -> pa.Table:
    ts = pa.array(np.full(t.num_rows, _day_ts(day)), pa.timestamp("us", tz="UTC"))
    return t.append_column("updated_at", ts)


def _changed(rng, t: pa.Table, frac: float, edits: dict) -> pa.Table:
    """A seed-chosen slice of ``t`` with ``edits`` applied; every edit
    returns values that differ from the old ones."""
    idx = np.sort(rng.choice(t.num_rows, max(1, int(t.num_rows * frac)), replace=False))
    out = t.take(idx)
    for col, edit in edits.items():
        pos = out.schema.get_field_index(col)
        new = edit(rng, out.column(col).to_numpy(zero_copy_only=False))
        out = out.set_column(pos, col, pa.array(new, out.schema.field(col).type))
    return out


def renumber_lines(lines: pa.Table) -> pa.Table:
    """``l_linenumber`` = 1..n within each order, in file order."""
    lk = lines.column("l_orderkey").to_numpy()
    idx = np.argsort(lk, kind="stable")
    sk = lk[idx]
    first = np.r_[True, sk[1:] != sk[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(len(sk)), 0))
    num = np.empty(len(lk), np.int32)
    num[idx] = np.arange(len(sk)) - start + 1
    pos = lines.schema.get_field_index("l_linenumber")
    return lines.set_column(pos, "l_linenumber", pa.array(num, pa.int32()))


def day_sources(seed: int, tables: dict[str, pa.Table]) -> dict[str, list[pa.Table]]:
    """Per table, the rows the operational source exports on each day
    (day 0 = the full load)."""
    orders, lines = tables["orders"], renumber_lines(tables["lineitem"])
    rng = np.random.default_rng([seed, *b"flow"])
    order_date = orders.column("o_orderdate").to_numpy().astype("datetime64[D]")
    day_num = (order_date - order_date.min()).astype(np.int64)
    n_days = int(day_num.max()) + 1
    edges = [int(n_days * FULL_LOAD_FRAC)]
    step = (n_days - edges[0]) / INCR_DAYS
    edges += [int(edges[0] + step * (d + 1)) for d in range(INCR_DAYS)]
    edges[-1] = n_days
    order_day = np.searchsorted(edges, day_num, side="right")
    okeys, lk = orders.column("o_orderkey").to_numpy(), lines.column("l_orderkey").to_numpy()
    by_key = np.argsort(okeys)
    pos = by_key[np.searchsorted(okeys[by_key], lk).clip(0, len(okeys) - 1)]
    assert (okeys[pos] == lk).all(), "an order line without its order"
    line_day = order_day[pos]
    segments = sorted(set(tables["customer"].column("c_mktsegment").to_pylist()))

    def shift_money(r, v):
        return np.round(v + r.uniform(1.0, 500.0, len(v)), 2)

    def rotate(values):
        return lambda r, v: np.array(
            [values[(values.index(x) + int(r.integers(1, len(values)))) % len(values)] for x in v]
        )

    out: dict[str, list[pa.Table]] = {t: [] for t in ("orders", "lineitem", "customer")}
    for day in range(INCR_DAYS + 1):
        new_orders = orders.filter(pa.array(order_day == day))
        new_lines = lines.filter(pa.array(line_day == day))
        if day == 0:
            cust = tables["customer"]
        else:
            cust = _changed(rng, tables["customer"], CHANGE_FRAC, {
                "c_acctbal": shift_money, "c_mktsegment": rotate(segments),
            })
            earlier = lines.filter(pa.array(line_day < day))
            fixed = _changed(rng, earlier, CORRECT_FRAC, {
                "l_quantity": lambda r, v: v % 50 + 1, "l_extendedprice": shift_money,
            })
            new_lines = pa.concat_tables([new_lines, fixed])
        for name, t in (("orders", new_orders), ("lineitem", new_lines),
                        ("customer", cust)):
            out[name].append(_stamp(t, day))
    return out


def draw(seed: int, tables: dict[str, pa.Table]) -> dict:
    """Untimed: every day's source rows, in memory."""
    top = tables["orders"].column("o_orderdate").to_numpy().max()
    return {"days": day_sources(seed, tables), "top_year": int(str(top)[:4])}


def prepare(ctx, drawn: dict, rep: int) -> measure.Inputs:
    """Timed set-up: one parquet file per table and day."""
    base = ctx.work / f"input{rep}"
    if rep:
        shutil.rmtree(ctx.work / f"input{rep - 1}", ignore_errors=True)
    nbytes = 0
    for name, days in drawn["days"].items():
        for day, t in enumerate(days):
            p = base / "src" / name / f"day-{day}.parquet"
            p.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(t, p)
            nbytes += p.stat().st_size
    return measure.Inputs(str(base), nbytes, {"top_year": drawn["top_year"]})


# ---------------------------------------------------------------------------
# the batch


def _latest(df, keys):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*keys).orderBy(F.col("updated_at").desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


def _clean(keys):
    return lambda df: _latest(df.dropna(subset=keys), keys)


def _dq_checks():
    from data_lakehouse_platform_spark.operators.quality import DQCheck

    return [
        DQCheck("order_lines", "null_count", "o_custkey", max_null_rate=0.0),
        DQCheck("order_lines", "min", "o_totalprice", min_value=0.0),
        DQCheck("order_lines", "null_count", "l_partkey", max_null_rate=0.0),
        DQCheck("order_lines", "min", "l_quantity", min_value=1.0),
        DQCheck("order_lines", "cross_field", "l_discount", predicate="l_discount <= 0.1"),
        DQCheck("customer", "unique", "c_custkey"),
    ]


class Batch:
    """The medallion lake of one run and the timed calls into it."""

    def __init__(self, ctx, inputs: measure.Inputs):
        from data_lakehouse_platform_spark.plans.medallion import MedallionPipeline
        from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

        self.ctx = ctx
        self.src = Path(inputs.path) / "src"
        self.lake = ctx.work / "lake"
        self.pipe = MedallionPipeline(ctx.spark, str(self.lake))
        self.fact = DeltaLiteTable(str(self.lake / "gold" / "fact_order_lines"))
        self.top_year = inputs.extra["top_year"]
        self.step_s: list[float] = []  # wall time of every step call

    def _source(self, name: str, day: int):
        paths = [str(self.src / name / f"day-{d}.parquet") for d in range(day + 1)]
        return self.ctx.spark.read.parquet(*paths)

    def _step(self, layer: str, stats: dict, fn):
        """Time ``fn`` as one medallion step; count its jobs."""
        jobs: dict[str, float] = {}
        t = time.perf_counter()
        with self.ctx.span(f"medallion.{layer}"), self.ctx.counters.group(layer, jobs):
            out = fn()
        took = time.perf_counter() - t
        self.step_s.append(took)
        stats[f"medallion.{layer}_s"] += took
        stats["medallion.jobs"] += jobs.get("jobs", 0)
        return out, jobs

    def _rows(self, layer: str, table: str) -> int:
        return self.ctx.spark.read.parquet(self.pipe.path(layer, table)).count()

    def day(self, day: int, stats: dict) -> None:
        from pyspark.sql import functions as F

        pipe, traced = self.pipe, self.ctx.tracer.enabled
        li, orders = self._source("lineitem", day), self._source("orders", day)
        order_lines = li.join(  # orders are only ever added, never changed
            orders.drop("updated_at"), li.l_orderkey == F.col("o_orderkey")
        ).drop("o_orderkey")
        sources = {
            "order_lines": order_lines,
            "customer": self._source("customer", day),
        }
        new = 0
        for name, df in sources.items():
            n, _ = self._step("bronze", stats, lambda: pipe.bronze_ingest(df, name, "updated_at"))
            new += n
        stats["medallion.rows_new"] += new
        written = new
        for name, keys in KEYS.items():
            self._step("silver", stats, lambda: pipe.silver_transform(name, _clean(keys)))
            if traced:
                written += self._rows("silver", name)
        self._step("gold_dim", stats, lambda: pipe.gold_scd2(
            "dim_customer", "c_custkey", CUSTOMER_TRACKED, "updated_at", source_table="customer"))
        if traced:
            written += self._rows("gold", "dim_customer")
        self._merge_fact(day, stats)
        written += stats.pop("delta.rows_written", 0)
        _, dq_jobs = self._step("dq", stats, lambda: pipe.validate("silver", _dq_checks()).collect())
        stats["quality.jobs"] += dq_jobs.get("jobs", 0)
        stats["medallion.rows_written"] += written

    def _fact_source(self, day: int):
        from pyspark.sql import functions as F

        from data_lakehouse_platform_spark.functions.money import dec

        spark, pipe = self.ctx.spark, self.pipe
        lines = pipe.read("silver", "order_lines").filter(
            F.col("updated_at") == F.lit(str(_day_ts(day).astype("datetime64[s]"))).cast("timestamp")
        )
        cust = pipe.read("gold", "dim_customer").filter("is_current").select(
            F.col("c_custkey").alias("o_custkey"), F.col("row_key").alias("customer_sk"))
        return (
            lines.join(F.broadcast(cust), "o_custkey")
            .select(
                "l_orderkey", "l_linenumber", "o_custkey", "l_partkey", "customer_sk",
                F.year("o_orderdate").alias("year"), "l_quantity",
                dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_micros"),
                "updated_at",
            )
        )

    def _merge_fact(self, day: int, stats: dict) -> None:
        live_before = len(self._live_files())
        t = time.perf_counter()
        with self.ctx.span("delta.merge"):
            source = self._fact_source(day)
            if day == 0:
                self.fact.write(source, mode="overwrite", partition_by=["year"])
            else:
                self.fact.merge(self.ctx.spark, source, ["l_orderkey", "l_linenumber"])
        took = time.perf_counter() - t
        self.step_s.append(took)
        stats["delta.merge_s"] += took
        adds, removes = self._last_commit()
        stats["delta.files_added"] += len(adds)
        stats["delta.files_removed"] += len(removes)
        stats["delta.bytes_added"] += sum(a["size"] for a in adds)
        stats["delta.touched_frac"] += (
            len(removes) / live_before if live_before else 0.0)
        stats["delta.rows_written"] = sum(
            json.loads(a.get("stats") or "{}").get("numRecords", 0) for a in adds)

    def _log_files(self) -> list[Path]:
        log = Path(self.fact.log_dir)
        return sorted(p for p in log.glob("*.json") if p.stem.isdigit())

    def _last_commit(self) -> tuple[list[dict], list[dict]]:
        """The add and remove actions of the newest commit, read from
        the committed ``_delta_log`` JSON."""
        actions = [json.loads(line) for line in self._log_files()[-1].read_text().splitlines() if line]
        return ([a["add"] for a in actions if "add" in a],
                [a["remove"] for a in actions if "remove" in a])

    def _live_files(self) -> set[str]:
        live: set[str] = set()
        for f in self._log_files():
            for line in f.read_text().splitlines():
                a = json.loads(line) if line else {}
                if "add" in a:
                    live.add(a["add"]["path"])
                elif "remove" in a:
                    live.discard(a["remove"]["path"])
        return live

    def kpi_reads(self, stats: dict) -> None:
        """The gold KPI read set: revenue per year over the whole fact,
        and two predicate reads (latest year by current segment, the
        top customers of the last two years)."""
        from pyspark.sql import functions as F

        spark, fact = self.ctx.spark, self.fact
        cust = self.pipe.read("gold", "dim_customer").filter("is_current").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
        top_year = self.top_year
        reads = {
            None: lambda df: df.groupBy("year").agg(F.sum("net_micros").alias("rev")),
            f"year = {top_year}": lambda df: df.join(F.broadcast(cust), "o_custkey")
            .groupBy("c_mktsegment").agg(F.sum("net_micros").alias("rev")),
            f"year >= {top_year - 1}": lambda df: df.groupBy("o_custkey")
            .agg(F.sum("net_micros").alias("rev")).orderBy(F.desc("rev"), "o_custkey").limit(10),
        }
        with self.ctx.span("delta.read"):
            for pred, shape in reads.items():
                df = fact.read(spark, predicate=pred)
                shape(df).collect()
                if pred is not None:
                    stats["delta.files_planned"] += len(df.inputFiles())
                    stats["delta.files_live"] += len(self._live_files())


def _gold_check(batch: Batch, res: measure.Result) -> None:
    """Gold against DuckDB over the source files."""
    import duckdb
    from pyspark.sql import functions as F

    src = batch.src
    con = duckdb.connect()
    try:
        for name in ("orders", "lineitem", "customer"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}/{name}/*.parquet')")
        want_fact = dict(con.execute("""
            WITH l AS (SELECT * FROM lineitem QUALIFY row_number() OVER (
                         PARTITION BY l_orderkey, l_linenumber ORDER BY updated_at DESC) = 1)
            SELECT year(o_orderdate) AS y,
                   [count(*), CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000)
                                            AS DECIMAL(28,0))) AS HUGEINT)]
            FROM l JOIN orders ON l_orderkey = o_orderkey GROUP BY y""").fetchall())
        want_versions = dict(con.execute(
            "SELECT n, count(*) FROM (SELECT c_custkey, count(*) n FROM customer GROUP BY 1) GROUP BY n"
        ).fetchall())
    finally:
        con.close()

    spark = batch.ctx.spark
    got_fact = {
        r["year"]: [r["n"], int(r["rev"])]
        for r in batch.fact.read(spark).groupBy("year")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("net_micros").alias("rev")).collect()
    }
    res.check(got_fact == {int(k): [int(v[0]), int(v[1])] for k, v in want_fact.items()},
              "gold fact rows and net revenue per year")
    dim = batch.pipe.read("gold", "dim_customer")
    res.check(dim.filter("is_current").count() == sum(want_versions.values()), "dim_customer current rows")
    got = dict(dim.groupBy("c_custkey").count().groupBy("count").count().collect())
    res.check(got == want_versions, f"dim_customer SCD2 versions per key {got} != {want_versions}")


# ---------------------------------------------------------------------------
# the run


def run(ctx, inputs: measure.Inputs) -> measure.Result:
    res = measure.Result()
    batch = Batch(ctx, inputs)
    day_s, stats = [], defaultdict(float)
    for day in range(INCR_DAYS + 1):
        if day == 1:
            batch.step_s.clear()  # step latencies: the incremental days'
        t = time.perf_counter()
        with ctx.span("bench.day"):
            batch.day(day, stats if day else defaultdict(float))
        day_s.append(time.perf_counter() - t)
    for k in list(stats):
        stats[k] /= INCR_DAYS  # per incremental day
    t = time.perf_counter()
    read_stats: defaultdict[str, float] = defaultdict(float)
    batch.kpi_reads(read_stats)
    gold_read_s = time.perf_counter() - t
    lake_bytes = measure.tree_bytes(str(batch.lake))
    with ctx.span("check.gold"):
        _gold_check(batch, res)

    rows_new = stats["medallion.rows_new"]
    pct, tail, n_steps = measure.tail_percentile(batch.step_s)
    stats["medallion.rewrite_ratio"] = stats["medallion.rows_written"] / rows_new if rows_new else 0.0
    stats.update(read_stats)
    stats["delta.read_s"] = gold_read_s
    stats["delta.log_versions"] = len(batch._log_files())
    res.layers.update(stats)
    res.e2e.update(
        primary_s=measure.median(day_s[1:]),
        secondary_s=day_s[0],
        throughput_per_s=rows_new * INCR_DAYS / sum(day_s[1:]),
        bytes_per_input_byte=lake_bytes / inputs.nbytes,
    )
    res.layers.update({"latency.p50_s": measure.median(batch.step_s), "latency.tail_s": tail})
    res.report += [
        f"medallion_daily: day 0 + {INCR_DAYS} incremental day(s), then the gold KPI read set",
        f"  full_load_s {day_s[0]:.4f} s",
        f"  incr_day_s  {res.e2e['primary_s']:.4f} s  (median of {INCR_DAYS})",
        f"  step latency p50 {measure.median(batch.step_s):.4f} s, p{pct:g} {tail:.4f} s (n={n_steps})",
        f"  rows_ingested_per_s {res.e2e['throughput_per_s']:.2f} 1/s",
        f"  gold_read_s {gold_read_s:.4f} s",
        f"  lake_bytes_per_input_byte {res.e2e['bytes_per_input_byte']:.4f}",
        f"  failed_frac {res.failed}/{res.attempted}",
    ]
    return res
