"""Operations of each workload, and the checks of their outputs.

An operation (``Op``) is built by calling the package's verbs and then
run to a sink.  A stream operation (``StreamOp``) replays the event
files through one streaming verb; each of its micro-batches counts as
one operation.  ``check`` runs an operation once in a checking form and
returns an error string, or None when the output is right.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the package, the registry and the oracle compare live in the checkout root
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from pyjanitor_spark import sources, streaming  # noqa: E402
from tools.check_correctness import norm  # noqa: E402

RELATIONAL = [
    "groupby_agg", "filter_date", "case_when", "get_dupes", "groupby_topk",
    "take_first", "count_cumulative_unique", "ecdf", "min_max_scale",
    "clean_names", "deterministic_sample", "conditional_join_range",
    "pivot_longer", "quantile_bin", "asof_join",
]
# minhash_lsh_pairs runs inside near_dup_clusters_contracted, so it has
# no operation of its own.  Slowest first: the checking pass runs the
# operations in this order.
CORPUS = ["near_dup_clusters_contracted", "nb_classify", "gopher_repetition", "language_id"]


@dataclass
class Ctx:
    """What operations share within one run."""

    spark: object
    data: str  # generated input tables
    work: str  # side outputs of this run
    rows: dict[str, int]  # input rows per table
    rng: object  # seeded numpy Generator
    duck: object = None
    extra: dict = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        return sources.read_table(self.spark, f"{self.data}/{name}.parquet")

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def input_rows(ctx: Ctx, df: DataFrame) -> int:
    """Rows of the generated tables that ``df`` reads."""
    read = {os.path.basename(f) for f in df.inputFiles()}
    return sum(n for t, n in ctx.rows.items() if f"{t}.parquet" in read)


@dataclass
class Op:
    """``check(ctx, df)`` gets the frame ``build`` returned (after ``act``
    for a write) and returns an error string, or None."""

    name: str
    build: Callable[[Ctx], DataFrame]
    act: Callable[[Ctx, DataFrame], None] = lambda ctx, df: noop(df)
    check: Callable[[Ctx, DataFrame], str | None] = lambda ctx, df: None
    rows_in: Callable[[Ctx, DataFrame], int] = input_rows
    prep: Callable[[Ctx], None] = lambda ctx: None
    writes: bool = False  # writes come before the reads of a pass
    reads_back: bool = False  # reads what a sink wrote


# -- registry entries, checked against the DuckDB oracle -------------------

def _sort_key(row):
    # None last, NaN after numbers; values of one column share a type
    return tuple(
        (2, 0) if v is None else (1, 0) if v == "NaN" else (0, v) for v in row
    )


def compare(rows_a, rows_b, cols) -> str | None:
    """The compare rule of ``tools/check_correctness.py``: equal row
    counts, then rows sorted on all values and compared in order, floats
    within 1e-9 (absolute or relative).  The sort key compares values
    natively instead of as strings, which is several times faster on
    100k-row outputs and orders both sides the same way."""
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} vs {len(rows_b)}"
    na = [tuple(norm(v) for v in r) for r in rows_a]
    nb = [tuple(norm(v) for v in r) for r in rows_b]
    try:
        sa, sb = sorted(na, key=_sort_key), sorted(nb, key=_sort_key)
    except TypeError:  # unorderable values (e.g. maps): fall back to strings
        skey = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
        sa, sb = sorted(na, key=skey), sorted(nb, key=skey)
    for i, (ra, rb) in enumerate(zip(sa, sb)):
        for c, (va, vb) in enumerate(zip(ra, rb)):
            if isinstance(va, float) and isinstance(vb, float):
                if abs(va - vb) > 1e-9 and abs(va - vb) > 1e-9 * max(abs(va), abs(vb)):
                    return f"row {i} col {cols[c]}: {va!r} vs {vb!r}"
            elif va != vb:
                return f"row {i} col {cols[c]}: {va!r} vs {vb!r}"
    return None


def collect_rows(df: DataFrame, cols: list[str]) -> list[tuple]:
    """Rows of ``df`` as tuples in ``cols`` order, through Arrow."""
    import pyarrow as pa

    table = df.select(*cols).toArrow()
    columns = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))  # naive UTC, as DuckDB returns
        columns.append(col.to_pylist())
    return list(zip(*columns)) if columns else []


def _oracle_check(name: str) -> Callable[[Ctx, DataFrame], str | None]:
    def check(ctx: Ctx, sdf: DataFrame) -> str | None:
        cols = sorted(sdf.columns)
        srows = collect_rows(sdf, cols)
        res = ctx.duck.cursor().execute(entry.oracle_sql()[name])
        ocols = [d[0] for d in res.description]
        if sorted(ocols) != cols:
            return f"columns {cols} vs oracle {sorted(ocols)}"
        order = [ocols.index(c) for c in cols]
        orows = [tuple(r[i] for i in order) for r in res.fetchall()]
        return compare(srows, orows, cols)

    return check


def entry_op(name: str) -> Op:
    return Op(
        name,
        build=lambda ctx: entry.queries()[name](ctx.spark, ctx.data),
        check=_oracle_check(name),
    )


# -- sink roundtrip ---------------------------------------------------------

_ORDERS_COLS = ["o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"]
_BUCKETED = "pb_orders_bucketed"


def _same(a: DataFrame, b: DataFrame) -> str | None:
    """Multiset equality of two frames with the same columns."""
    b = b.select(*a.columns)
    return None if a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty() else "rows differ from the source"


def _ranges(ctx: Ctx) -> tuple[float, float, float, float]:
    """The 2-D range predicate of this run (drawn once from the seed)."""
    if "ranges" not in ctx.extra:
        q0 = float(ctx.rng.integers(1, 36))
        p0 = float(ctx.rng.integers(900, 75_000))
        ctx.extra["ranges"] = (q0, q0 + 15, p0, p0 + 30_000)
    return ctx.extra["ranges"]


def _in_ranges(df: DataFrame, ctx: Ctx) -> DataFrame:
    q0, q1, p0, p1 = _ranges(ctx)
    return df.filter(
        F.col("l_quantity").between(q0, q1) & F.col("l_extendedprice").between(p0, p1)
    )


def _orders(ctx: Ctx) -> DataFrame:
    return ctx.table("orders").select(*_ORDERS_COLS)


def _drop_bucketed(ctx: Ctx) -> None:
    ctx.spark.sql(f"DROP TABLE IF EXISTS {_BUCKETED}")
    shutil.rmtree(ctx.path("orders_bucketed"), ignore_errors=True)


def _read_csv(ctx: Ctx) -> DataFrame:
    d = ctx.path("orders_csv")
    out = sources.read_csv(
        ctx.spark, d,
        schema="o_orderkey long, o_totalprice double, o_orderpriority string",
        basePath=d,
    )
    return out.withColumn("o_orderstatus", F.col("o_orderstatus").cast("string"))


def _read_partitioned(ctx: Ctx) -> DataFrame:
    df = sources.read_table(ctx.spark, ctx.path("lineitem_partitioned"))
    return df.withColumn("l_returnflag", F.col("l_returnflag").cast("string"))


def _bucketed_join(ctx: Ctx) -> DataFrame:
    a = sources.read_bucketed_table(ctx.spark, _BUCKETED)
    b = sources.read_bucketed_table(ctx.spark, _BUCKETED).select(
        "o_orderkey", F.col("o_totalprice").alias("o_totalprice_b")
    )
    return a.join(b, "o_orderkey")


def _check_write(read_back: Callable[[Ctx], DataFrame]):
    def check(ctx: Ctx, source: DataFrame) -> str | None:
        return _same(source, read_back(ctx))

    return check


def _check_range(ctx: Ctx, got: DataFrame) -> str | None:
    want = _in_ranges(ctx.table("lineitem"), ctx)
    expected = ctx.extra["range_rows"]
    if got.count() != expected:
        return f"z-ordered range read {got.count()} rows, expected {expected}"
    return _same(want, got)


def _check_join(ctx: Ctx, df: DataFrame) -> str | None:
    n = df.count()
    return None if n == ctx.rows["orders"] else f"self-join gave {n} rows, expected {ctx.rows['orders']}"


def sink_ops() -> list[Op]:
    li = lambda ctx: ctx.table("lineitem")  # noqa: E731
    li_rows = lambda ctx, df: ctx.rows["lineitem"]  # noqa: E731
    o_rows = lambda ctx, df: ctx.rows["orders"]  # noqa: E731
    writes = [
        Op("write_parquet", li, writes=True,
           act=lambda ctx, df: sources.write_parquet(
               df, ctx.path("lineitem_partitioned"),
               partition_by=["l_returnflag"], sort_by=["l_shipdate"]),
           check=_check_write(_read_partitioned)),
        Op("write_zordered", li, writes=True,
           act=lambda ctx, df: sources.write_zordered(
               df, ctx.path("lineitem_zordered"),
               zorder_by=["l_quantity", "l_extendedprice"]),
           check=_check_write(
               lambda ctx: sources.read_table(ctx.spark, ctx.path("lineitem_zordered")))),
        Op("write_bucketed_table", _orders, writes=True, prep=_drop_bucketed,
           act=lambda ctx, df: sources.write_bucketed_table(
               df, _BUCKETED, bucket_by=["o_orderkey"], num_buckets=4,
               sort_by=["o_orderkey"], path=ctx.path("orders_bucketed")),
           check=_check_write(lambda ctx: sources.read_bucketed_table(ctx.spark, _BUCKETED))),
        Op("write_csv", _orders, writes=True,
           act=lambda ctx, df: sources.write_csv(
               df, ctx.path("orders_csv"), partition_by=["o_orderstatus"]),
           check=_check_write(_read_csv)),
    ]
    reads = [
        Op("read_zordered_range",
           lambda ctx: _in_ranges(sources.read_table(ctx.spark, ctx.path("lineitem_zordered")), ctx),
           check=_check_range, rows_in=li_rows, reads_back=True),
        Op("read_plain_range", lambda ctx: _in_ranges(ctx.table("lineitem"), ctx),
           rows_in=li_rows, reads_back=True),
        Op("read_bucketed_join", _bucketed_join, check=_check_join,
           rows_in=lambda ctx, df: 2 * ctx.rows["orders"], reads_back=True),
        Op("read_csv", _read_csv, rows_in=o_rows, reads_back=True),
    ]
    return writes + reads


def prepare_sink(ctx: Ctx, tables) -> None:
    """Untimed: the expected row count of the range predicate."""
    q0, q1, p0, p1 = _ranges(ctx)
    li = tables["lineitem"]
    qty, price = li.column("l_quantity").to_numpy(), li.column("l_extendedprice").to_numpy()
    ctx.extra["range_rows"] = int(((qty >= q0) & (qty <= q1) & (price >= p0) & (price <= p1)).sum())


# -- streaming --------------------------------------------------------------

STREAM_FILES = 8
CHECK_FILES_PER_TRIGGER = 4


@dataclass
class StreamOp:
    """One replay of the event files through a streaming verb."""

    name: str
    mode: str
    verb: Callable[[DataFrame], DataFrame]
    batch_key: list[str]  # columns that identify a result row
    compare_cols: list[str]
    files_per_trigger: int  # stream files per micro-batch


STREAM_OPS = [
    StreamOp(
        "windowed_agg", "update",
        lambda df: streaming.windowed_agg(
            df, "ts", "1 hour",
            aggs={"n_events": ("event_id", "count"), "sum_value": ("value", "sum")},
            by=["event_type"], watermark="10 minutes"),
        ["window_start", "event_type"], ["n_events", "sum_value"], 1,
    ),
]


def prepare_stream(ctx: Ctx, tables) -> None:
    """Untimed: split the events (in time order) into stream files at
    seed-chosen cut points, with increasing modification times."""
    import pyarrow.parquet as pq

    ev = tables["events"]
    n = ev.num_rows
    cuts = sorted(ctx.rng.choice(range(n // 10, n - n // 10), STREAM_FILES - 1, replace=False))
    bounds = [0, *map(int, cuts), n]
    d = ctx.path("stream_src")
    os.makedirs(d, exist_ok=True)
    for i in range(STREAM_FILES):
        p = os.path.join(d, f"part-{i:03d}.parquet")
        pq.write_table(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    ctx.extra["stream_schema"] = ctx.spark.read.parquet(d).schema
    ctx.extra["stream_seq"] = itertools.count(1)


def build_stream(ctx: Ctx, op: StreamOp, files_per_trigger: int) -> DataFrame:
    src = (
        ctx.spark.readStream.schema(ctx.extra["stream_schema"])
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(ctx.path("stream_src"))
    )
    return op.verb(src)


def start_stream(ctx: Ctx, op: StreamOp, df: DataFrame, sink: str, tracer=None):
    """Replay the stream through ``df`` into ``sink``; return the
    finished query."""
    tag = f"pb_{op.name}_{next(ctx.extra['stream_seq'])}"
    w = (
        df.writeStream.format(sink).outputMode(op.mode)
        .option("checkpointLocation", ctx.path(f"checkpoints/{tag}"))
        .trigger(availableNow=True)
    )
    if sink == "memory":
        w = w.queryName(tag)
    q = w.start()
    if tracer is not None:
        # micro-batch jobs run under the query's run id, not our group
        tracer.group_alias[str(q.runId)] = tracer.current()
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return q


def _stream_result(df: DataFrame, op: StreamOp):
    if "window" in df.columns:
        df = df.withColumn(
            "window_start", F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
        ).drop("window")
    rows = {}
    for r in df.collect():
        key = tuple(r[c] for c in op.batch_key)
        val = tuple(r[c] for c in op.compare_cols)
        # update mode emits a key again each time it grows; the last
        # (largest) emission is the final one
        if key not in rows or val > rows[key]:
            rows[key] = val
    return rows


def check_stream(ctx: Ctx, op: StreamOp) -> str | None:
    # a few large micro-batches: a stream's result does not depend on how
    # its input is batched, and the state still crosses batch boundaries
    q = start_stream(ctx, op, build_stream(ctx, op, CHECK_FILES_PER_TRIGGER), "memory")
    got = _stream_result(ctx.spark.table(q.name), op)
    batch = ctx.spark.read.schema(ctx.extra["stream_schema"]).parquet(ctx.path("stream_src"))
    want = _stream_result(op.verb(batch), op)
    ctx.spark.catalog.dropTempView(q.name)
    if set(got) != set(want):
        return f"{len(got)} result keys vs {len(want)} in batch"
    bad = [k for k in want if compare([got[k]], [want[k]], op.compare_cols)]
    return f"{len(bad)} keys differ from batch, e.g. {bad[0]}" if bad else None


def batch_seconds(q) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in q.recentProgress]


# -- workloads --------------------------------------------------------------

@dataclass
class Workload:
    name: str
    ops: list[Op]
    stream: list[StreamOp]
    sf: float


def workloads() -> dict[str, Workload]:
    rel = [entry_op(n) for n in RELATIONAL]
    corpus = [entry_op(n) for n in CORPUS]
    return {
        "relational_sink": Workload("relational_sink", rel + sink_ops(), [], 0.005),
        "corpus_streaming": Workload("corpus_streaming", corpus, STREAM_OPS, 0.01),
    }
