"""The workloads: catalog queries and SCD1 loads in passes, and the CTR
stream.

A batch workload runs passes of operations in a seeded order. A pass's
wall time is the sum of its operations' latencies; inputs a pass needs
are made before its clock starts and outputs are checked against DuckDB
after the measured window. With tracing on, passes alternate between
untraced and traced, so one process yields both the per-layer split and
the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import asdict, dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

import datagen
from spark_probe import SparkProbe, final_plan_string, plan_shape
from stats import (
    Span,
    median,
    percentile,
    self_times,
    tail_percentile,
    uniform_points,
    weighted_percentile,
)

clock = time.perf_counter

# Catalog queries of the batch workload: an analytics view and star-join
# shapes (a top-k sort, a windowed aggregate), then a curation query with
# driver-side build loops. Subsets, sized so that a run warms up for two
# passes and still fits the benchmark's time budget on four cores.
STAR_VIEWS = (
    "agent_metrics", "shipping_priority", "regional_revenue",
    "window_frames",
)
CURATION_LOOPS = ("trade_pagerank",)

# SCD1 tables: width -> (target rows, rows per delta load).
SCD1_SHAPES = {6: (60_000, 6_000), 250: (1_000, 100)}

# CTR stream: offered rate (rows/s), watermark, and the duplicate stride.
CTR_ROWS_PER_S = 10_000
CTR_WATERMARK = "5 seconds"
CTR_DUP_EVERY = 10


@dataclass
class Op:
    name: str
    pass_no: int
    traced: bool
    latency: float = 0.0
    cpu: float = 0.0  # engine CPU seconds, JIT apart
    jit: float = 0.0  # JIT compiler CPU seconds
    ok: bool = True
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)
    result: object = None


class Tracer:
    """Spans kept in memory; written out once the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, op_id: str | None = None) -> int:
        self.spans.append(Span(name, start, end, parent, op_id))
        return len(self.spans) - 1

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]

    def self_by_name(self) -> dict[str, float]:
        """Total self time per span name."""
        out: Counter = Counter()
        for span, t in zip(self.spans, self_times(self.spans)):
            out[span.name] += t
        return dict(out)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    cpus: int
    trace: bool
    star_dir: str
    run_dir: str
    meter: CpuMeter
    tracer: Tracer = field(default_factory=Tracer)


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _proc_stat(path: str) -> list[str] | None:
    """A /proc stat file as [command name, fields after it...]; None if
    the process or thread has gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return [raw[raw.index("(") + 1:raw.rindex(")")],
            *raw[raw.rindex(")") + 2:].split()]


class CpuMeter:
    """CPU seconds of the engine: this process and every process below
    it (the driver JVM, Python workers), reaped children included, read
    from /proc. Time the hypervisor gives to other guests is accounted as
    steal, not to these processes, so unlike wall time the count leaves
    out waiting for a CPU. It still rises with the host's load, through
    shared cores and caches. The JVM's JIT compiler threads are counted
    apart: their work is warm-up that keeps arriving in bursts long after
    the engine's own CPU has settled. The JVM must run with a fixed set of
    compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``), so that
    none exits and takes its count with it."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def _tree_ticks(self) -> int:
        kids: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            f = _proc_stat(f"/proc/{d}/stat")
            if f is None:
                continue
            kids.setdefault(int(f[2]), []).append(int(d))
            # utime, stime, cutime, cstime
            ticks[int(d)] = sum(int(x) for x in f[12:16])
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += kids.get(pid, [])
        return total

    def _jit_ticks(self) -> int:
        total = 0
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            f = _proc_stat(f"{task}/{tid}/stat")
            if f is not None and "Compiler" in f[0]:
                total += int(f[12]) + int(f[13])
        return total

    def read(self) -> tuple[float, float]:
        """(engine CPU seconds without the JIT, JIT CPU seconds) so far."""
        jit = self._jit_ticks()
        return (self._tree_ticks() - jit) / self.tick, jit / self.tick


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    return round((after[0] - before[0]) / max(after[1] - before[1], 1), 4)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _fail(op: Op, exc: BaseException) -> None:
    op.ok = False
    op.error = f"{type(exc).__name__}: {exc}"[:500]
    _log(f"{op.name} (pass {op.pass_no}) failed: {op.error}")
    traceback.print_exc(file=sys.stderr)


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


def _load_name(width: int) -> str:
    return f"w{width}"


class BatchWorkload:
    """``batch_mix``: passes over catalog queries (each collected to the
    driver) and SCD1 loads (one delta per table width per pass, merged
    with ``merge_scd1_write``; each load reads the table the previous load
    wrote). The end-to-end cost of a pass is its engine CPU time; its wall
    time goes to the record, because on a shared host it follows the
    neighbours more than the engine."""

    name = "batch_mix"
    queries = STAR_VIEWS + CURATION_LOOPS
    widths = tuple(SCD1_SHAPES)
    # The cold pass costs twice what later ones do; after it the JIT
    # goes on compiling for many passes, lowering the engine's CPU per
    # pass by a few percent each time. Every run does the same work, so
    # that drift is the same in all of them.
    warmup_passes = 2
    min_passes = 3

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.ops: list[Op] = []
        self.pass_walls: dict[int, float] = {}
        self.pass_cpu: dict[int, float] = {}
        self.pass_steal: dict[int, float] = {}
        self.phase_s: dict[str, float] = {}
        self.probe: SparkProbe | None = None

    def op_names(self) -> tuple[str, ...]:
        return self.queries + tuple(_load_name(w) for w in self.widths)

    # -- run loop ---------------------------------------------------------
    def order(self, pass_no: int) -> list[str]:
        """Warm-up passes (negative numbers) run in a fixed order, so the
        state the timed passes start from does not depend on the seed;
        timed passes run in the seed's order."""
        names = sorted(self.op_names())
        if pass_no >= 0:
            random.Random(f"{self.ctx.seed}:{self.name}:{pass_no}").shuffle(
                names
            )
        return names

    def run_pass(self, pass_no: int, traced: bool) -> None:
        self._write_deltas()
        meter = self.ctx.meter
        steal0 = steal_ticks()
        wall = cpu = 0.0
        for name in self.order(pass_no):
            op = Op(name, pass_no, traced)
            c0, j0 = meter.read()
            if name in self.fns:
                self._run_query(op)
            else:
                self._run_load(op)
            c1, j1 = meter.read()
            op.cpu, op.jit = c1 - c0, j1 - j0
            wall += op.latency
            cpu += op.cpu
            self.ops.append(op)
        self.pass_walls[pass_no] = wall
        self.pass_cpu[pass_no] = cpu
        self.pass_steal[pass_no] = steal_share(steal0, steal_ticks())

    def run(self) -> None:
        ctx, phases = self.ctx, self.phase_s
        t = clock()
        if ctx.trace:
            self.probe = SparkProbe(ctx.spark)
        self._prepare()
        phases["prepare"] = clock() - t
        t = clock()
        for w in range(self.warmup_passes):
            self.run_pass(-1 - w, traced=False)
        phases["warmup"] = clock() - t
        start = clock()
        pass_no = 0
        # Traced runs interleave untraced and traced passes as u t t u, so
        # a drift over the run (the JIT still warming) cancels out of
        # trace.overhead_s.
        min_passes = 4 if ctx.trace else self.min_passes
        while pass_no < min_passes or clock() - start < ctx.seconds:
            self.run_pass(pass_no, traced=ctx.trace and pass_no % 4 in (1, 2))
            pass_no += 1
        phases["timed"] = clock() - start
        if self.probe is not None:
            self.probe.close()
        t = clock()
        self._verify_queries()
        self._verify_loads()
        phases["verify"] = clock() - t

    # -- results ----------------------------------------------------------
    def timed(self, traced: bool) -> list[Op]:
        return [o for o in self.ops if o.pass_no >= 0 and o.traced == traced]

    def walls(self, traced: bool) -> list[float]:
        passes = {o.pass_no for o in self.timed(traced)}
        return [self.pass_walls[p] for p in sorted(passes)]

    def end_to_end(self) -> tuple[dict[str, float], dict]:
        untraced = {o.pass_no for o in self.timed(False)}
        # a pass's CPU as the sum of each operation's median: a burst on
        # the host inflates one operation, not the estimate of the pass
        by_op: dict[str, list[float]] = {}
        for o in self.timed(False):
            by_op.setdefault(o.name, []).append(o.cpu)
        metrics = {"cpu_s": sum(median(v) for v in by_op.values())}
        # wall-clock figures, for the record
        lat = [o.latency for o in self.timed(False)]
        # the percentile is fixed by the fewest samples a run can take,
        # so that every run reports the same one
        untraced_passes = 2 if self.ctx.trace else self.min_passes
        p_tail = tail_percentile(len(self.op_names()) * untraced_passes)
        info = {"wall_s": median(self.walls(False)),
                "op_p50_s": median(lat),
                "op_tail_s": percentile(lat, p_tail),
                "tail_percentile": p_tail, "op_samples": len(lat),
                "passes": len(untraced),
                "phase_s": {k: round(v, 3) for k, v in self.phase_s.items()},
                "pass_wall_s": {k: round(v, 3) for k, v in self.pass_walls.items()},
                "pass_cpu_s": {k: round(v, 3) for k, v in self.pass_cpu.items()},
                "pass_steal": self.pass_steal}
        return metrics, info

    def per_layer(self) -> dict[str, float]:
        """Layer metrics as means per traced pass."""
        traced = self.timed(True)
        passes = len({o.pass_no for o in traced})
        sums: Counter = Counter()
        for o in traced:
            sums.update(o.layers)
            sums["session.jit_cpu_s"] += o.jit
        out = {k: v / passes for k, v in sums.items()}
        rows = out.get("merge.rows_written", 0)
        out["merge.bytes_per_row"] = (
            out.get("merge.bytes_written", 0) / rows if rows else 0.0
        )
        out["trace.wall_s"] = sum(self.walls(True)) / passes
        untraced = self.walls(False)
        out["trace.overhead_s"] = (
            out["trace.wall_s"] - sum(untraced) / len(untraced)
        )
        # Each op's clock is covered by its layer spans: build, plan and
        # execute for a query, merge.call (which holds the write's own
        # planning) for a load. Their sum is the traced pass wall.
        layer_sum = sum(
            o.layers.get("merge.call_s", 0.0) if o.name not in self.fns
            else o.layers.get("queries.build_s", 0.0)
            + o.layers.get("plan.plan_s", 0.0)
            + o.layers.get("exec.exec_s", 0.0)
            for o in traced
        ) / passes
        self.trace_info = {"layer_sum_s": round(layer_sum, 4)}
        return out

    def attempted_failed(self) -> tuple[int, int]:
        return len(self.ops), sum(1 for o in self.ops if not o.ok)

    # -- inputs -------------------------------------------------------------
    def _table(self, width: int) -> str:
        return os.path.join(self.ctx.run_dir, f"scd1_w{width}", "table")

    def _delta(self, width: int, load_no: int) -> str:
        return os.path.join(self.ctx.run_dir, f"scd1_w{width}",
                            f"delta_{load_no:04d}")

    def _prepare(self) -> None:
        from redshift_etl_spark import queries as Q

        catalog = Q.all_queries()
        self.fns = {n: catalog[n] for n in self.queries}
        self.loads: dict[int, list[int]] = {w: [] for w in self.widths}
        self.load_no = 0
        for w in self.widths:
            rows, _ = SCD1_SHAPES[w]
            initial = os.path.join(self.ctx.run_dir, f"scd1_w{w}", "initial")
            datagen.write_scd1_target(initial, rows, w, self.ctx.seed)
            shutil.copytree(initial, self._table(w))

    def _write_deltas(self) -> None:
        """One delta per width for the coming pass, made before its clock
        starts; loads are numbered in run order."""
        self.load_no += 1
        for w in self.widths:
            rows, delta_rows = SCD1_SHAPES[w]
            datagen.write_scd1_delta(self._delta(w, self.load_no),
                                     self.load_no, delta_rows, rows, w,
                                     self.ctx.seed)

    # -- operations -----------------------------------------------------------
    def _run_query(self, op: Op) -> None:
        spark, sf = self.ctx.spark, self.ctx.star_dir
        fn = self.fns[op.name]
        if not op.traced:
            t0 = clock()
            try:
                df = fn(spark, sf)
                op.result = (df.columns, df.collect())
            except Exception as exc:  # counted, never aborts the run
                _fail(op, exc)
            op.latency = clock() - t0
            return
        probe, tr = self.probe, self.ctx.tracer
        op_id = f"{op.name}#{op.pass_no}"
        gid = f"pb-{op_id}"
        probe.drain()
        ex0 = probe.execution_count()
        t0 = clock()
        t1 = t2 = None
        jqe = None
        try:
            probe.group(gid + "-build")
            df = fn(spark, sf)
            t1 = clock()
            probe.group(gid + "-exec")
            jqe = df._jdf.queryExecution()
            jqe.executedPlan()
            t2 = clock()
            op.result = (df.columns, df.collect())
        except Exception as exc:
            _fail(op, exc)
        t3 = clock()
        probe.clear_group()
        op.latency = t3 - t0
        t1 = t3 if t1 is None else t1
        t2 = t3 if t2 is None else t2
        parent = tr.add("op", t0, t3, None, op_id)
        tr.add("queries.build", t0, t1, parent, op_id)
        tr.add("plan", t1, t2, parent, op_id)
        tr.add("exec", t2, t3, parent, op_id)
        # statistics are read after the op's clock stopped
        probe.drain()
        b = probe.job_counts(gid + "-build")
        op.layers.update({
            "queries.build_s": t1 - t0,
            "queries.build_jobs": b.jobs,
            "queries.build_stages": b.stages,
            "plan.plan_s": t2 - t1,
            "exec.exec_s": t3 - t2,
        })
        if op.ok:
            shape = plan_shape(final_plan_string(jqe))
            op.layers.update(
                {f"plan.{k}": v for k, v in asdict(shape).items()}
            )
        self._exec_counts(op.layers, gid + "-exec", ex0)

    def _exec_counts(self, layers: dict, gid: str, ex0: int) -> None:
        """Jobs of the op's action, and operator metrics of the SQL
        executions it started (all of the op's executions, build
        included: the SQL store does not tag them by job group)."""
        jobs = self.probe.job_counts(gid)
        sql = self.probe.sql_counts(ex0, self.probe.execution_count())
        layers.update(
            {f"exec.{k}": v for k, v in {**asdict(jobs), **asdict(sql)}.items()}
        )

    def _run_load(self, op: Op) -> None:
        from redshift_etl_spark.operators.merge import merge_scd1_write

        spark, probe, tr = self.ctx.spark, self.probe, self.ctx.tracer
        width = int(op.name[1:])
        table = self._table(width)
        delta = self._delta(width, self.load_no)
        op_id = f"{op.name}#{op.pass_no}"
        gid = f"pb-{op_id}"
        if op.traced:
            probe.drain()
            probe.take_write_events()
            ex0 = probe.execution_count()
            probe.group(gid)
        t0 = clock()
        try:
            target = spark.read.parquet(table)
            source = spark.read.parquet(delta)
            merge_scd1_write(table, target, source, "id", "updated_at")
        except Exception as exc:
            _fail(op, exc)
        t1 = clock()
        op.latency = t1 - t0
        self.loads[width].append(self.load_no)
        if not op.traced:
            return
        probe.clear_group()
        probe.drain()
        parent = tr.add("op", t0, t1, None, op_id)
        call = tr.add("merge.call", t0, t1, parent, op_id)
        # The write plans its query itself. The planning tracker's
        # optimization and planning phases give that interval on the wall
        # clock, so plan time is counted once, inside merge.call.
        offset = time.time() - clock()
        plan: Counter = Counter()
        for ev in probe.take_write_events():
            tr.add("plan", ev.plan_start_ms / 1e3 - offset,
                   ev.plan_end_ms / 1e3 - offset, call, op_id)
            plan.update({f"plan.{k}": v for k, v in asdict(ev.shape).items()})
            plan["plan.plan_s"] += ev.plan_ms / 1e3
        op.layers.update(plan)
        op.layers["plan.plan_s"] = plan["plan.plan_s"]
        op.layers["merge.call_s"] = t1 - t0
        side = "narrow" if width <= 24 else "wide"  # merge_scd1's width gate
        op.layers[f"merge.call_{side}_s"] = t1 - t0
        self._exec_counts(op.layers, gid, ex0)
        if op.ok:
            import pyarrow.parquet as pq

            files = glob.glob(os.path.join(table, "*.parquet"))
            op.layers.update({
                "merge.files_written": len(files),
                "merge.bytes_written": sum(os.path.getsize(f) for f in files),
                "merge.rows_written": sum(
                    pq.ParquetFile(f).metadata.num_rows for f in files
                ),
            })

    # -- oracles ------------------------------------------------------------
    def _mark(self, name: str, error: str) -> None:
        for op in self.ops:
            if op.name == name and op.ok:
                op.ok = False
                op.error = error

    def _verify_queries(self) -> None:
        """Every collected result against the query's DuckDB oracle."""
        import duckdb

        from redshift_etl_spark import queries as Q
        from tests.oracle_compare import rows_key

        oracles = Q.all_oracles()
        con = duckdb.connect()
        try:
            for path in glob.glob(os.path.join(self.ctx.star_dir, "*.parquet")):
                table = os.path.basename(path)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {table} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            expected = {}
            for name in self.queries:
                rel = con.execute(oracles[name])
                cols = [d[0].lower() for d in rel.description]
                expected[name] = (sorted(cols), rows_key(rel.fetchall(), cols))
        except Exception as exc:
            for name in self.queries:
                self._mark(name, f"oracle failed: {exc}"[:500])
            return
        finally:
            con.close()
        verified: dict[str, Counter] = {}
        for op in self.ops:
            if not op.ok or op.name not in expected:
                continue
            cols, rows = op.result
            op.result = None
            counts = Counter(rows)
            if verified.get(op.name) == counts:
                continue
            lc = [c.lower() for c in cols]
            if expected[op.name] == (sorted(lc), rows_key(rows, lc)):
                verified.setdefault(op.name, counts)
            else:
                op.ok = False
                op.error = "result differs from the DuckDB oracle"
                _log(f"{op.name} (pass {op.pass_no}): {op.error}")

    def _verify_loads(self) -> None:
        """Replay every load in DuckDB and compare the final tables."""
        import duckdb

        con = duckdb.connect()
        try:
            for w in self.widths:
                cols = ", ".join(f'"{c}"' for c in datagen.scd1_columns(w))
                initial = os.path.join(self.ctx.run_dir, f"scd1_w{w}", "initial")
                con.execute("CREATE OR REPLACE TABLE t AS SELECT "
                            f"{cols} FROM read_parquet('{initial}/*.parquet')")
                for load_no in self.loads[w]:
                    con.execute(f"""
CREATE OR REPLACE TABLE t AS
WITH src AS (
  SELECT {cols} FROM read_parquet('{self._delta(w, load_no)}/*.parquet')
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY updated_at DESC) = 1
), win AS (
  SELECT s.* FROM src s LEFT JOIN t ON s.id = t.id
  WHERE t.id IS NULL OR s.updated_at > t.updated_at
)
SELECT {cols} FROM t WHERE id NOT IN (SELECT id FROM win)
UNION ALL SELECT {cols} FROM win""")
                got = (f"(SELECT {cols} FROM "
                       f"read_parquet('{self._table(w)}/*.parquet'))")
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL "
                    f"{got})) + (SELECT count(*) FROM ({got} EXCEPT ALL "
                    "SELECT * FROM t))"
                ).fetchone()[0]
                if diff:
                    _log(f"scd1 width {w}: {diff} rows differ from the "
                         "DuckDB replay")
                    self._mark(_load_name(w),
                               "final table differs from the replay")
        except Exception as exc:
            for w in self.widths:
                self._mark(_load_name(w), f"replay failed: {exc}"[:500])
        finally:
            con.close()


# ---------------------------------------------------------------------------
# CTR stream
# ---------------------------------------------------------------------------


def _ts_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def _offset(v) -> int:
    if v is None:
        return 0
    return int(json.loads(v) if isinstance(v, str) else v)


def expected_distinct(lo: int, hi: int, dup_every: int = CTR_DUP_EVERY) -> int:
    """Rows the dedup keeps from rate values ``lo..hi-1``: every value
    ``v > 0`` with ``v % dup_every == 0`` repeats the contact of ``v-1``."""
    if hi <= lo:
        return 0
    dups = (hi - 1) // dup_every - max(lo - 1, 0) // dup_every
    return (hi - lo) - dups


class _BatchCpu(StreamingQueryListener):
    """Reads the engine's CPU as each micro-batch's progress arrives, so
    the CPU between two progress events is what those batches cost."""

    def __init__(self, meter: CpuMeter) -> None:
        self.meter = meter
        self.marks: dict[int, tuple[float, float]] = {}

    def onQueryStarted(self, event):  # noqa: N802 (Spark's names)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.marks[event.progress.batchId] = self.meter.read()

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class CtrStream:
    """``build_ctr_rate_stream`` at a fixed offered rate with a bounded
    watermark and a noop sink, measured over its steady batches. Its
    end-to-end cost is the engine CPU per second of input; batch and row
    latencies go to the record."""

    name = "ctr_stream"
    warmup_s = 8.0

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.batches: list[dict] = []
        self.failed = 0

    def run(self) -> None:
        from pyspark.sql import functions as F

        from redshift_etl_spark.streaming.ctr import build_ctr_rate_stream

        ctx = self.ctx
        ckpt = os.path.join(ctx.run_dir, "ctr_ckpt")
        t0 = clock()
        stream = build_ctr_rate_stream(
            ctx.spark, rows_per_second=CTR_ROWS_PER_S,
            dup_every=CTR_DUP_EVERY, watermark=CTR_WATERMARK,
            num_partitions=ctx.cpus,
        )
        self.build_s = clock() - t0
        cpu = _BatchCpu(ctx.meter)
        ctx.spark.streams.addListener(cpu)
        try:
            q = (
                stream.observe("pb_out", F.count(F.lit(1)).alias("rows"))
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            try:
                time.sleep(self.warmup_s)
                open_ms = time.time() * 1e3
                time.sleep(ctx.seconds)
                close_ms = time.time() * 1e3
            finally:
                q.stop()
        finally:
            ctx.spark.streams.removeListener(cpu)
        progress = q.recentProgress
        # CPU since the previous batch with input whose progress was
        # read, and the rows that CPU handled: no-data batches (state
        # eviction) count with the next one
        mark_of, prev, rows = {}, None, 0
        for p in progress:
            rows += p["numInputRows"]
            if p["numInputRows"] and p["batchId"] in cpu.marks:
                if prev is not None:
                    c0, j0 = cpu.marks[prev]
                    c1, j1 = cpu.marks[p["batchId"]]
                    mark_of[p["batchId"]] = (c1 - c0, j1 - j0, rows)
                prev, rows = p["batchId"], 0
        with open(os.path.join(ckpt, "sources", "0", "0")) as f:
            # rate-source metadata: version line, then its start time (ms)
            created_ms = int(f.read().split("\n")[1])
        R = CTR_ROWS_PER_S
        for p in progress:
            if not p["numInputRows"]:
                continue
            start_ms = _ts_ms(p["timestamp"])
            commit_ms = start_ms + p["durationMs"]["triggerExecution"]
            if start_ms < open_ms or commit_ms > close_ms:
                continue
            src = p["sources"][0]
            a, b = _offset(src.get("startOffset")), _offset(src["endOffset"])
            out_rows = int(p["observedMetrics"]["pb_out"]["rows"])
            want = expected_distinct(a * R, b * R)
            ok = out_rows == want and p["numInputRows"] == (b - a) * R
            if not ok:
                self.failed += 1
                _log(f"batch {p['batchId']}: {out_rows} rows out, "
                     f"{want} expected")
            state = (p.get("stateOperators") or [{}])[0]
            # None if no progress event came in time
            c, j, cpu_rows = mark_of.get(p["batchId"], (None, None, 0))
            self.batches.append({
                "cpu_s": c, "jit_s": j, "cpu_rows": cpu_rows,
                "batch": p["batchId"], "ok": ok,
                "in_rows": p["numInputRows"], "out_rows": out_rows,
                "exec_s": p["durationMs"]["triggerExecution"] / 1e3,
                # event times of the batch's rows span these offsets
                "lat_lo_s": (commit_ms - (created_ms + b * 1e3)) / 1e3,
                "lat_hi_s": (commit_ms - (created_ms + a * 1e3)) / 1e3,
                "input_lag_s": (start_ms - (created_ms + b * 1e3)) / 1e3,
                "d": p["durationMs"],
                "state_rows": state.get("numRowsTotal", 0),
                "state_bytes": state.get("memoryUsedBytes", 0),
                "state_commit_ms": state.get("commitTimeMs", 0),
            })
            ctx.tracer.add("micro_batch", start_ms / 1e3, commit_ms / 1e3,
                           None, f"batch#{p['batchId']}")
        if not any(b["cpu_s"] is not None for b in self.batches):
            raise RuntimeError("no steady micro-batch completed in the window")

    def _latency_points(self) -> list[tuple[float, float]]:
        pts: list[tuple[float, float]] = []
        for b in self.batches:
            pts += uniform_points(b["lat_lo_s"], b["lat_hi_s"], b["out_rows"])
        return pts

    def end_to_end(self) -> tuple[dict[str, float], dict]:
        pts = self._latency_points()
        rows = sum(b["out_rows"] for b in self.batches)
        p_tail = tail_percentile(rows, ladder=(50.0, 90.0, 99.0))
        # CPU per second of input over the whole window: batches differ
        # in size and some carry a no-data batch, so one batch's share of
        # CPU is not a sample of the cost
        read = [b for b in self.batches if b["cpu_s"] is not None]
        metrics = {"cpu_s": CTR_ROWS_PER_S * sum(b["cpu_s"] for b in read)
                   / sum(b["cpu_rows"] for b in read)}
        # wall-clock figures, for the record: batch execution, and row
        # latency from the rate source's timestamp to the batch's commit
        info = {"wall_s": median([b["exec_s"] for b in self.batches]),
                "op_p50_s": weighted_percentile(pts, 50.0),
                "op_tail_s": weighted_percentile(pts, p_tail),
                "tail_percentile": p_tail, "op_samples": rows,
                "batches": len(self.batches), "cpu_batches": len(read),
                "batch_cpu_s": [round(b["cpu_s"], 3) for b in read],
                "offered_rows_per_s": CTR_ROWS_PER_S}
        return metrics, info

    def per_layer(self) -> dict[str, float]:
        bs = self.batches

        def med(key, sub=None):
            return median([(b[key][sub] if sub else b[key]) or 0 for b in bs])

        in_rows = sum(b["in_rows"] for b in bs)
        read = [b for b in bs if b["jit_s"] is not None]
        return {
            "session.jit_cpu_s": CTR_ROWS_PER_S * sum(b["jit_s"] for b in read)
            / sum(b["cpu_rows"] for b in read),
            "stream.rows_per_s": in_rows / sum(b["exec_s"] for b in bs),
            "stream.add_batch_ms": med("d", "addBatch"),
            "stream.query_planning_ms": med("d", "queryPlanning"),
            "stream.wal_commit_ms": med("d", "walCommit"),
            "stream.latest_offset_ms": med("d", "latestOffset"),
            "stream.state_rows": med("state_rows"),
            "stream.state_bytes": med("state_bytes"),
            "stream.state_commit_ms": med("state_commit_ms"),
            "stream.input_lag_s": med("input_lag_s"),
            "stream.dedup_keep_ratio":
                sum(b["out_rows"] for b in bs) / in_rows,
            "queries.build_s": self.build_s,
            # progress is read either way: tracing adds no work here
            "trace.overhead_s": 0.0,
            "trace.wall_s": med("exec_s"),
        }

    def attempted_failed(self) -> tuple[int, int]:
        return len(self.batches), self.failed


WORKLOADS = {"batch_mix": BatchWorkload, "ctr_stream": CtrStream}
