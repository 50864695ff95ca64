"""The workloads.  Each is one closed-loop client: the next request
(micro-batch, CDC cycle or query) starts only after the previous one ends.

The runner drives a workload in four steps:

- ``setup_rep``, repeated: seeded inputs in a fresh directory and fresh
  program state (tables, checkpoints) built from them; the last repetition's
  inputs and state are the ones timed;
- ``warm_up``, once: throwaway requests, so the timed section runs warm;
- ``run``: the timed section, returning per-request latencies;
- ``check``: output checks on what the timed section left, untimed.

``prepare`` builds one more fresh state for a second timed section (the
traced one).
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from polars_incremental_spark import Pipeline
from polars_incremental_spark.cache import release_operator_caches
from polars_incremental_spark.checkpoints.file import FileStreamCheckpoint
from polars_incremental_spark.mv import (
    create_agg_mv,
    create_join_mv,
    read_join_mv,
    refresh_agg_mv,
    refresh_join_mv,
)
from polars_incremental_spark.queries import REGISTRY
from polars_incremental_spark.schema import SchemaEvolution
from polars_incremental_spark.sinks.delta import apply_cdc_table, read_table, write_table
from polars_incremental_spark.sources.base import DeltaSource, FilesSource

from . import inputs
from .trace import LatencyObserver, Tracer


class Result:
    """What one timed section produced."""

    def __init__(self) -> None:
        self.latencies: list[float] = []  # one per request, seconds
        self.wall_s = 0.0  # the timed section; for the operator suite its typical pass
        self.rows = 0  # in wall_s: source rows committed / change rows applied / input rows read
        self.layer: dict[str, float] = {}  # per-layer facts the spans cannot give


class Workload:
    def __init__(self, spark, work_dir: str, seed: int, seconds: int, sizes: dict[str, Any]):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self._reps = 0
        self.states: list[Any] = []

    def units(self, rate_key: str) -> int:
        """Requests in one timed section: ``--seconds`` times a rate fixed in
        workloads.json, so the work depends only on the arguments."""
        return max(1, round(self.seconds * self.sizes[rate_key]))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_rep(self) -> None:
        self._reps += 1
        self.inputs_dir = self.path(f"inputs-{self._reps}")
        self.generate(self.inputs_dir)
        self.states.append(self.prepare(f"state-{self._reps}"))


# ------------------------------------------------------------------ ingest


def per_user(df):
    tagged = F.count("channel") if "channel" in df.columns else F.lit(0).cast("long")
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"), tagged.alias("n_tagged")
    )


def _file_per_user(path: str) -> dict[int, tuple[int, int, int]]:
    t = pq.read_table(path)
    tag = t["channel"] if "channel" in t.column_names else pa.nulls(t.num_rows, pa.string())
    agg = (
        pa.table({"user_id": t["user_id"], "amount": t["amount"], "tag": tag})
        .group_by("user_id")
        .aggregate([("amount", "count"), ("amount", "sum"), ("tag", "count")])
    )
    cols = [agg[c].to_pylist() for c in ("user_id", "amount_count", "amount_sum", "tag_count")]
    return {u: (n, s, k) for u, n, s, k in zip(*cols)}


class IngestBacklog(Workload):
    """Small parquet files → FilesSource(max_files_per_trigger=1) → schema
    evolution → per-user count/sum → Delta append, drained by one
    ``Pipeline.run`` (the availableNow trigger)."""

    STAGES = {
        "plan": "checkpoints.file.plan",
        "read": "sources.file.read",
        "schema": "schema.apply",
        "transform": "pipeline.transform",
        "write": "pipeline.write",
        "commit": "checkpoints.file.commit",
    }

    def generate(self, out_dir: str) -> None:
        n = self.units("files_per_second")
        self.files = inputs.ingest_files(
            out_dir, self.seed, n_files=n, rows_per_file=self.sizes["rows_per_file"],
            n_users=self.sizes["users"], drift_at=n // 2,
        )

    def warm_up(self) -> None:
        """A throwaway pipeline over ``warmup_files`` files, the second half
        drifted.  Batches keep getting faster for about fifty batches after
        a cold start; a shorter warm-up left that trend in the timed ones."""
        n = self.sizes["warmup_files"]
        src = self.path("warmup", "src")
        inputs.ingest_files(
            src, self.seed + 1, n_files=n, rows_per_file=self.sizes["rows_per_file"],
            n_users=self.sizes["users"], drift_at=n // 2,
        )
        state = self.prepare("warmup")
        self._pipeline(src, state, LatencyObserver(), Tracer(self.spark, enabled=False)).run(self.spark)

    def prepare(self, tag: str) -> dict[str, str]:
        return {"checkpoint": self.path(tag, "ckpt"), "table": self.path(tag, "table")}

    def _pipeline(self, src: str, state: dict, observer, tracer: Tracer) -> Pipeline:
        table = state["table"]

        def writer(df, batch_id):
            with tracer.span("sinks.deltalog.append"):
                write_table(df.withColumn("batch_id", F.lit(batch_id).cast("long")), table, mode="append")

        return Pipeline(
            source=FilesSource(path=src, file_format="parquet", max_files_per_trigger=1),
            checkpoint_dir=state["checkpoint"],
            writer=writer,
            transform=per_user,
            schema_evolution=SchemaEvolution(mode="add_new_columns"),
            observer=observer,
        )

    def run(self, state: dict, tracer: Tracer) -> Result:
        res = Result()
        observer = LatencyObserver(tracer, self.STAGES)
        pipeline = self._pipeline(self.inputs_dir, state, observer, tracer)
        t0 = time.perf_counter()
        with tracer.span("pipeline.run"):
            pipeline.run(self.spark)
            observer.finish_idle()
        res.wall_s = time.perf_counter() - t0
        res.latencies = [s for _, s in observer.batches]
        res.rows = len(observer.batches) * self.sizes["rows_per_file"]
        return res

    def check(self, state: dict) -> tuple[int, int, list[str]]:
        """Every file is committed in exactly one batch, and each batch's rows
        in the Delta table equal pyarrow's per-user count/sum over its files.
        A batch whose check fails counts as failed."""
        ckpt = FileStreamCheckpoint(state["checkpoint"])
        last = ckpt.latest_commit_batch_id()
        batches = {b: ckpt.offset_batch(b).files for b in range(0 if last is None else last + 1)}
        seen = Counter(os.path.abspath(f) for files in batches.values() for f in files)
        expected = {os.path.abspath(f) for f in self.files}
        problems = [f"{os.path.basename(f)} committed {seen[f]} times" for f in sorted(expected) if seen[f] != 1]
        problems += [f"unknown file committed: {f}" for f in sorted(set(seen) - expected)]
        failed = len(problems)

        got: dict[int, dict[int, tuple]] = {}
        for r in read_table(self.spark, state["table"]).collect():
            users = got.setdefault(r["batch_id"], {})
            users[r["user_id"]] = "duplicate" if r["user_id"] in users else (r["n"], r["total"], r["n_tagged"])
        for b, files in sorted(batches.items()):
            want: dict[int, tuple] = {}
            for f in files:
                for u, v in _file_per_user(f).items():
                    want[u] = tuple(x + y for x, y in zip(want.get(u, (0, 0, 0)), v))
            if got.pop(b, {}) != want:
                failed += 1
                problems.append(f"batch {b}: sink rows differ from pyarrow over its files")
        for b in sorted(got):
            failed += 1
            problems.append(f"sink holds rows of uncommitted batch {b}")
        attempted = max(len(self.files), len(batches))
        return attempted, min(failed, attempted), problems

    def corrupt(self, state: dict) -> None:
        """Append one bogus row to batch 0 of the sink (smoke test only)."""
        row = self.spark.createDataFrame(
            [(-1, 1, 1, 0, 0)], "user_id long, n long, total long, n_tagged long, batch_id long"
        )
        write_table(row, state["table"], mode="append")


# --------------------------------------------------------------------- cdc


def _delta_feed(applied: Counter) -> Counter:
    """The change-data feed Delta writes for a MERGE of ``applied``: each
    update is one ``update_preimage`` and one ``update_postimage`` row;
    inserts and deletes are one row each."""
    feed = Counter({t: n for t, n in applied.items() if t != "update"})
    if applied["update"]:
        feed.update(update_preimage=applied["update"], update_postimage=applied["update"])
    return feed


def _diff_keys(a: dict, b: dict) -> int:
    return sum(1 for k in set(a) | set(b) if a.get(k) != b.get(k))


class CdcMerge(Workload):
    """Per cycle: a keyed MERGE that writes a change-data feed through
    ``apply_cdc_table``, then a Pipeline on ``DeltaSource(read_change_feed)``
    drains the feed.  ``CdcMergeMv`` adds the two MV refreshes."""

    with_mv = False
    STAGES = {
        "plan": "checkpoints.delta.plan",
        "read": "sources.delta.read",
        "write": "pipeline.write",
        "commit": "checkpoints.delta.commit",
    }

    def generate(self, out_dir: str) -> None:
        self.base_file, self.dim_file, self.change_files, self.models = inputs.cdc_inputs(
            out_dir, self.seed,
            base_rows=self.sizes["base_rows"],
            n_groups=self.sizes["groups"],
            cycles=self.units("cycles_per_second"),
            changes_per_cycle=self.sizes["changes_per_cycle"],
            mix=self.sizes["mix"],
            zipf_s=self.sizes["zipf_s"],
        )
        self.change_counts = [
            Counter(pq.read_table(p, columns=["_change_type"])["_change_type"].to_pylist())
            for p in self.change_files
        ]
        self.expected_feed = [_delta_feed(c) for c in self.change_counts]
        dim = pq.read_table(self.dim_file)
        self.regions = dict(zip(dim["grp"].to_pylist(), dim["region"].to_pylist()))

    def warm_up(self) -> None:
        """One throwaway cycle on the first repetition's state."""
        state = self.states[0] if len(self.states) > 1 else self.prepare("warmup")
        self._cycle(state, 0, Tracer(self.spark, enabled=False))

    def prepare(self, tag: str) -> dict[str, Any]:
        spark, root = self.spark, self.path(tag)
        state: dict[str, Any] = {
            name: os.path.join(root, name) for name in ("base", "dim", "agg_mv", "join_mv", "consumer")
        }
        state.update(feed=[], cycle_feed=[], cycle_problems=[], groups_touched=[])
        write_table(spark.read.parquet(self.base_file), state["base"], mode="overwrite")
        if self.with_mv:
            write_table(spark.read.parquet(self.dim_file), state["dim"], mode="overwrite")
            create_agg_mv(spark, state["base"], state["agg_mv"], group_cols=["grp"], sum_cols=["amount"])
            create_join_mv(spark, state["base"], state["dim"], state["join_mv"], on=["grp"])
        self._consumer(state, LatencyObserver()).run(spark)  # drains the snapshot
        return state

    def _consumer(self, state: dict, observer) -> Pipeline:
        feed = state["feed"]

        def writer(df):
            feed.append(Counter({r[0]: r[1] for r in df.groupBy("_change_type").count().collect()}))

        return Pipeline(
            source=DeltaSource(path=state["base"], read_change_feed=True),
            checkpoint_dir=state["consumer"],
            writer=writer,
            observer=observer,
        )

    def _cycle(self, state: dict, i: int, tracer: Tracer) -> None:
        spark = self.spark
        changes = spark.read.parquet(self.change_files[i])
        with tracer.span("sinks.delta.apply_cdc"):
            apply_cdc_table(spark, changes, state["base"], keys=["id"], write_change_feed=True)
        if self.with_mv:
            with tracer.span("mv.refresh_agg"):
                touched = refresh_agg_mv(spark, state["base"], state["agg_mv"])
            state["groups_touched"].append(touched.get("groups_touched") or 0)
            with tracer.span("mv.refresh_join"):
                refresh_join_mv(spark, state["join_mv"])
        mark = len(state["feed"])
        observer = LatencyObserver(tracer, self.STAGES)
        with tracer.span("pipeline.run"):
            self._consumer(state, observer).run(spark)
            observer.finish_idle()
        state["cycle_feed"].append(sum(state["feed"][mark:], Counter()))

    def run(self, state: dict, tracer: Tracer) -> Result:
        """A cycle that raises is a failed request: its error is recorded and
        the loop goes on with the next change set."""
        res = Result()
        for i in range(len(self.change_files)):
            t0 = time.perf_counter()
            try:
                with tracer.span("cdc.cycle", op=f"cycle-{i}"):
                    self._cycle(state, i, tracer)
                error = None
            except Exception as exc:  # the program failed this request
                error = f"cycle {i} raised {type(exc).__name__}: {exc}"
            res.latencies.append(time.perf_counter() - t0)
            if error is not None:
                state["cycle_feed"] += [Counter()] * (i + 1 - len(state["cycle_feed"]))
            state["cycle_problems"].append(([error] if error else []) + self._cycle_problems(state, i))
        res.wall_s = sum(res.latencies)
        res.rows = sum(sum(c.values()) for c in self.change_counts)
        if state["groups_touched"]:
            res.layer["mv.groups_touched"] = sum(state["groups_touched"]) / len(state["groups_touched"])
        res.layer.update(self._merge_log_facts(state))
        return res

    def _merge_log_facts(self, state: dict) -> dict[str, float]:
        """Files each MERGE commit removed, and data bytes it added per byte
        of change rows, read from the base table's commits (untimed)."""
        from polars_incremental_spark.checkpoints.delta import DeltaLog

        log = DeltaLog(state["base"])
        merges = [v for v in range(1, (log.latest_version() or 0) + 1)
                  if any("cdc" in a for a in log.actions(v))]
        removed = added = 0
        for v in merges:
            for action in log.actions(v):
                removed += "remove" in action
                added += action.get("add", {}).get("size", 0)
        change_bytes = sum(os.path.getsize(p) for p in self.change_files)
        return {
            "sinks.delta.files_rewritten_per_merge": removed / max(1, len(merges)),
            "sinks.delta.write_amp": added / change_bytes,
        }

    def _expected_groups(self, model: dict[int, tuple[int, int]]) -> dict[int, tuple[int, int]]:
        out: dict[int, tuple[int, int]] = {}
        for grp, amount in model.values():
            n, s = out.get(grp, (0, 0))
            out[grp] = (n + 1, s + amount)
        return out

    def _cycle_problems(self, state: dict, i: int) -> list[str]:
        """After cycle ``i`` (untimed): the drained feed's per-type counts
        equal Delta's change feed for the applied change set and the
        target's digest equals the model's; with MVs, the agg MV and the
        join MV's per-group totals equal a recompute from the model."""
        spark, model = self.spark, self.models[i]
        problems = []
        if state["cycle_feed"][i] != self.expected_feed[i]:
            problems.append(
                f"cycle {i}: change feed {dict(state['cycle_feed'][i])} != expected {dict(self.expected_feed[i])}"
            )
        digest = tuple(
            read_table(spark, state["base"])
            .agg(F.count(F.lit(1)), F.sum("id"), F.sum("grp"), F.sum("amount"))
            .collect()[0]
        )
        want_digest = (
            len(model), sum(model), sum(g for g, _ in model.values()), sum(a for _, a in model.values())
        )
        if digest != want_digest:
            problems.append(f"cycle {i}: target digest {digest} != model {want_digest}")
        if not self.with_mv:
            return problems
        want = self._expected_groups(model)
        agg = {r["grp"]: (r["cnt"], r["sum_amount"]) for r in read_table(spark, state["agg_mv"]).collect()}
        if agg != want:
            problems.append(f"cycle {i}: agg MV differs from a recompute in {_diff_keys(agg, want)} groups")
        joined = {
            (r["grp"], r["region"]): (r["n"], r["s"])
            for r in read_join_mv(spark, state["join_mv"])
            .groupBy("grp", "region")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
            .collect()
        }
        want_join = {(g, self.regions[g]): v for g, v in want.items()}
        if joined != want_join:
            problems.append(f"cycle {i}: join MV differs from a recompute in {_diff_keys(joined, want_join)} groups")
        return problems

    def check(self, state: dict) -> tuple[int, int, list[str]]:
        """Per-cycle checks, then the final target and join MV row for row.
        A cycle with any failed check counts as failed."""
        per_cycle = state["cycle_problems"]
        problems = [p for cycle in per_cycle for p in cycle]
        failed = sum(1 for cycle in per_cycle if cycle)
        model = self.models[len(per_cycle) - 1]
        target = {r["id"]: (r["grp"], r["amount"]) for r in read_table(self.spark, state["base"]).collect()}
        final = []
        if target != model:
            final.append(f"final target differs from the model in {_diff_keys(target, model)} keys")
        if self.with_mv:
            final += self._final_join_problems(state, model)
        if final and not per_cycle[-1]:
            failed += 1
        return len(per_cycle), failed, problems + final

    def _final_join_problems(self, state: dict, model: dict) -> list[str]:
        rows = Counter(
            (r["id"], r["grp"], r["amount"], r["region"])
            for r in read_join_mv(self.spark, state["join_mv"]).collect()
        )
        want = Counter((k, g, a, self.regions[g]) for k, (g, a) in model.items())
        if rows == want:
            return []
        return [f"final join MV differs from a recompute in {sum(((rows - want) + (want - rows)).values())} rows"]

    def corrupt(self, state: dict) -> None:
        """Append one row the model does not have (smoke test only)."""
        row = self.spark.createDataFrame([(10**9, 0, 1)], "id long, grp long, amount long")
        write_table(row, state["base"], mode="append")
        state["cycle_problems"][-1] += self._cycle_problems(state, len(state["cycle_problems"]) - 1)


class CdcMergeMv(CdcMerge):
    """``CdcMerge`` plus, per cycle, ``refresh_agg_mv`` (count/sum by group)
    and ``refresh_join_mv`` (base joined with a group dimension) between the
    MERGE and the drain."""

    with_mv = True


# --------------------------------------------------------------- operators


def _catalyst_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the query's own tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class OperatorSuite(Workload):
    """REGISTRY queries forced with noop writes, one after another, in
    passes over the query list.  A request is one query; its latency is the
    median over the passes, so a burst of load from another process during
    one pass does not move it.  ``wall_s`` is the sum of those medians: the
    typical pass."""

    def generate(self, out_dir: str) -> None:
        self.table_rows = inputs.operator_tables(out_dir, self.seed, sf=self.sizes["sf"])

    def warm_up(self) -> None:
        """One pass that collects every query and keeps its rows beside its
        DuckDB twin's (``check`` compares them), then one noop pass: after
        the collecting pass alone the next pass was still ~20% faster."""
        import duckdb

        con = duckdb.connect()
        for table in self.table_rows:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{self.inputs_dir}/{table}.parquet'"
            )
        self.outputs = {}
        for name in self.sizes["queries"]:
            fn, sql = REGISTRY[name]
            df = fn(self.spark, self.inputs_dir)
            spark_side = (list(df.columns), df.schema, [tuple(r) for r in df.collect()])
            release_operator_caches(self.spark)
            res = con.sql(sql)
            self.outputs[name] = (spark_side, (list(res.columns), list(res.types), res.fetchall()))
        con.close()
        self.run({"passes": 1}, Tracer(self.spark, enabled=False))

    def prepare(self, tag: str) -> dict[str, Any]:
        return {"passes": self.units("passes_per_second")}

    def run(self, state: dict, tracer: Tracer) -> Result:
        spark = self.spark
        sc = spark.sparkContext
        res = Result()
        catalyst: list[dict[str, float]] = []
        persisted = 0
        latencies: dict[str, list[float]] = {name: [] for name in self.sizes["queries"]}
        for p in range(state["passes"]):
            for name in self.sizes["queries"]:
                fn = REGISTRY[name][0]
                with tracer.span(f"query.{name}", op=f"{name}-{p}"):
                    if tracer.enabled:
                        sc.setLocalProperty("perfbench.op", name)
                    q0 = time.perf_counter()
                    with tracer.span("queries.build"):
                        df = fn(spark, self.inputs_dir)
                    built = time.perf_counter()
                    if tracer.enabled:
                        with tracer.span("catalyst.probe"):
                            catalyst.append(_catalyst_ms(df))
                    q1 = time.perf_counter()
                    with tracer.span("queries.execute"):
                        df.write.format("noop").mode("overwrite").save()
                    latencies[name].append((built - q0) + (time.perf_counter() - q1))
                    release_operator_caches(spark)
                    if tracer.enabled:
                        sc.setLocalProperty("perfbench.op", None)
                        persisted = max(persisted, sc._jsc.sc().getPersistentRDDs().size())
        for name, values in latencies.items():
            res.latencies.append(statistics.median(values))
            res.layer[f"query.{name}.wall_s"] = res.latencies[-1]
        res.wall_s = sum(res.latencies)
        res.rows = sum(self.table_rows[t] for tables in self.sizes["queries"].values() for t in tables)
        if catalyst:
            for phase in ("analysis", "optimization", "planning"):
                res.layer[f"catalyst.{phase}_ms"] = sum(c[phase] for c in catalyst) / len(catalyst)
        res.layer["cache.persisted_after_release"] = persisted
        return res

    def check(self, state: dict) -> tuple[int, int, list[str]]:
        """Each query's rows equal its DuckDB twin's: row count, column
        names, column types and the multiset of normalised values."""
        from tools.check_correctness import compare_types, rows_to_multiset

        problems = []
        for name, ((s_cols, s_schema, s_rows), (d_cols, d_types, d_rows)) in self.outputs.items():
            bad = []
            if len(s_rows) != len(d_rows):
                bad.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            if sorted(s_cols) != sorted(d_cols):
                bad.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
            bad += compare_types(s_schema, d_cols, d_types)
            if not bad and rows_to_multiset(s_cols, s_rows) != rows_to_multiset(d_cols, d_rows):
                bad.append("values differ")
            if bad:
                problems.append(f"{name}: " + "; ".join(bad))
        return len(self.outputs), len(problems), problems

    def corrupt(self, state: dict) -> None:
        """Change one value of the first non-empty result (smoke test only)."""
        for name, ((cols, schema, rows), oracle) in self.outputs.items():
            if rows:
                rows[0] = (None,) * len(rows[0])
                return


CLASSES = {c.__name__: c for c in (IngestBacklog, CdcMerge, CdcMergeMv, OperatorSuite)}
