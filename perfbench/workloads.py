"""The benchmark workloads.

Each is a single-process closed loop that drives the program only
through public functions of ``pipeline``, ``streaming``, ``sources``,
``functions``, ``workload`` and ``plans``, and times every call from the
outside. One operation ("op") is an incremental drop or one pass over
the registry query mix; ops run until the measuring time is spent.

In a traced run the ops are traced in the pattern untraced, traced,
traced, untraced (ABBA) and only whole blocks of four are run, so
per-layer spans and the tracing overhead come from the same run, inputs
and warm state, and a steady warming or slowing trend cancels out of the
overhead.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from types import SimpleNamespace

import gen
from checks import check_gold
from stats import TRACE_BLOCK, growth, tail, traced_op

from tests.oracle_utils import compare, run_oracle

#: the repository's read-only test tables at scale 0.01 (TESTDATA.md),
#: carried with the benchmark because a run reads nothing outside its
#: checkout
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

MAX_FAILURES = 20


@dataclass
class Op:
    latency: float
    traced: bool


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str, details: list[str] = ()) -> None:
        """Count one failed operation or check; keep its details."""
        self.failed += 1
        if len(self.problems) < 50:
            self.problems.extend([what, *details])


def tree_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes of parquet files) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Workload:
    """Shared closed loop; subclasses define one op."""

    min_ops = 1
    min_ops_traced = TRACE_BLOCK

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.measured_s = 0.0
        self.untimed_setup_s = 0.0

    def measure(self, seconds: float, trace: bool) -> None:
        t0 = time.perf_counter()
        k = 0
        while True:
            elapsed = time.perf_counter() - t0
            if trace:
                enough = k >= self.min_ops_traced and k % TRACE_BLOCK == 0
            else:
                enough = k >= self.min_ops
            if (elapsed >= seconds and enough) or self.ctx.failed >= MAX_FAILURES:
                break
            self.ctx.tracer.enabled = trace and traced_op(k)
            self.run_op(k)
            k += 1
        self.ctx.tracer.enabled = False
        self.measured_s = time.perf_counter() - t0

    def timed(self, k: int, fn) -> Op | None:
        """Run one op, counting it as attempted and, if it raises or its
        inline check fails, as failed."""
        self.ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = fn() is not False
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.ctx.fail(f"{type(self).__name__} op {k}: {traceback.format_exc(limit=3)}")
            return None
        op = Op(time.perf_counter() - t0, self.ctx.tracer.enabled)
        if not ok:
            self.ctx.fail(f"{type(self).__name__} op {k}: inline check failed")
        self.ops.append(op)
        return op

    def latencies(self, traced: bool = False) -> list[float]:
        return [o.latency for o in self.ops if o.traced == traced]

    def overhead(self) -> float:
        """Mean traced op latency over the mean untraced one, minus 1.
        Means, not medians: over whole ABBA blocks a linear trend in op
        latency adds the same to both means."""
        on, off = self.latencies(True), self.latencies(False)
        if not on or not off:
            return 0.0
        return statistics.fmean(on) / statistics.fmean(off) - 1.0


# -------------------------------------------------------------- incremental

ROWS = "number of output rows"
WRITE_NODE = "InsertIntoHadoopFsRelationCommand"


class Incremental(Workload):
    """Drops of raw recordings land in a closed loop; each drop runs the
    whole medallion: the streaming bronze and silver triggers, the
    band-pass and sliding-epoch gold tables appended with the
    partitioned writer, and the trial-channel gold table appended to a
    transaction-logged table, which seeded point lookups then read.

    One op lands a drop, runs it through, then runs the compaction check
    and the lookups; the next drop lands after that. Freshness is landed
    → gold rows readable; the op latency adds compaction and lookups."""

    RECORDINGS_PER_DROP = 8
    LOOKUPS_PER_DROP = 4
    COMPACT_AFTER_SMALL_FILES = 3
    #: triggers keep getting faster for about the first six drops
    WARMUP_DROPS = 3
    #: live files are counted after this many drops (warm-up included),
    #: which every traced run reaches, so the count does not grow with
    #: the number of drops a run fits in
    LIVE_FILES_AFTER = WARMUP_DROPS + TRACE_BLOCK
    # a median over at least five drops, even on a slow host: drops
    # vary by ±5 % within a run
    min_ops = 5
    min_ops_traced = 2 * TRACE_BLOCK

    def generate(self) -> None:
        w = self.ctx.work
        self.landing = os.path.join(w, "in", "landing")
        os.makedirs(self.landing)
        self.out = {
            n: os.path.join(w, "out", n)
            for n in ("bronze", "silver", "silver_bp", "gold_epoch", "gold_tc",
                      "_ckpt_bronze", "_ckpt_silver")
        }
        self.rng = random.Random(self.ctx.seed)
        self.recs: list[gen.Recording] = []  # every processed recording
        self.pending: list[gen.Recording] = []
        self.n_generated = 0
        self.seen_batches: set[str] = set()
        self.drops: list[dict] = []  # per measured drop: freshness, samples, traced
        self.lookup_lat: list[tuple[float, bool]] = []
        self.lookup_matched: list[float] = []
        self.compactions = 0
        self.versions: list[int] = []  # table version after each drop

    def _generate_next(self) -> None:
        """Generate the next drop's recordings (off the clock)."""
        d = self.n_generated
        self.pending = gen.make_recordings(
            self.ctx.seed, 100 + d, self.RECORDINGS_PER_DROP,
            1_000_000 + d * self.RECORDINGS_PER_DROP,
        )
        self.n_generated += 1

    def warmup(self) -> None:
        """WARMUP_DROPS drops with their lookups, whose times are not
        kept."""
        from eeg_data_lake_spark.sources.txlog import TxTable

        self.table = TxTable(self.ctx.spark, self.out["gold_tc"])
        for j in range(self.WARMUP_DROPS):
            self._generate_next()
            gen.write_recordings(self.pending, self.landing)
            self.drop(f"warmup{j}", time.perf_counter())
            self.lookups(f"warmup{j}")
            self.versions.append(self.table.version())
        self.lookup_lat.clear()

    def run_op(self, k: int) -> None:
        self._generate_next()

        def op():
            gen.write_recordings(self.pending, self.landing)
            fresh = self.drop(f"d{k}", time.perf_counter())
            self.drops.append({
                "freshness": fresh, "traced": self.ctx.tracer.enabled,
                "samples": gen.token_counts(self.recs[-self.RECORDINGS_PER_DROP:])[1],
            })
            return self.lookups(f"d{k}")

        op_rec = self.timed(k, op)
        if op_rec is not None:
            self.drops[-1]["latency"] = op_rec.latency
        self.versions.append(self.table.version())

    def drop(self, req: str, landed_at: float) -> float:
        """Run the landed drop through every layer; returns its
        freshness."""
        from eeg_data_lake_spark.pipeline import (
            gold_epoch_features,
            gold_trial_channel,
            silver_bandpass,
        )
        from eeg_data_lake_spark.sources.writers import write_partitioned
        from eeg_data_lake_spark.streaming.ingest import stream_bronze_from_lines
        from eeg_data_lake_spark.streaming.silver import stream_silver_from_bronze_dir

        spark, tr, out = self.ctx.spark, self.ctx.tracer, self.out
        if tr.enabled:
            epoch_bytes = tree_size(out["gold_epoch"])[1]
        with tr.span("incremental.drop", req) as dc:
            with tr.span("streaming.ingest", req) as c:
                tr.measured(
                    c,
                    lambda: stream_bronze_from_lines(
                        spark, self.landing, out["bronze"], out["_ckpt_bronze"]
                    ),
                    sql=(("tokens_parsed", ROWS, "Generate"),),
                )
            with tr.span("streaming.silver", req) as c:
                tr.measured(
                    c,
                    lambda: stream_silver_from_bronze_dir(
                        spark, out["bronze"], out["silver"], out["_ckpt_silver"]
                    ),
                    shuffle=True, spill=True,
                    sql=(("bronze_rows", ROWS, "Scan ExistingRDD"),
                         ("silver_rows", ROWS, WRITE_NODE)),
                )
            batches = sorted(
                b for b in os.listdir(out["silver"])
                if b.startswith("b") and b not in self.seen_batches
            )
            silver = spark.read.parquet(*[os.path.join(out["silver"], b) for b in batches])
            # one directory per drop, as the streaming silver sink keeps
            # one per batch, so the next layer reads back just this drop
            bp_dir = os.path.join(out["silver_bp"], f"d{self.n_generated:06d}")
            with tr.span("functions.signal.bandpass", req) as c:
                bp = silver_bandpass(silver)
                tr.measured(
                    c, lambda: write_partitioned(bp, bp_dir, ["synset"]),
                    sql=(("files_written", "number of written files", WRITE_NODE),),
                )
            with tr.span("pipeline.gold.epoch", req) as c:
                ep = gold_epoch_features(
                    spark.read.parquet(bp_dir), mode="sliding", value_col="value_filt"
                )
                tr.measured(
                    c, lambda: write_partitioned(ep, out["gold_epoch"], mode="append"),
                    shuffle=True,
                    sql=(("files_written", "number of written files", WRITE_NODE),),
                )
            with tr.span("sources.txlog.append", req) as c:
                gold = gold_trial_channel(silver)
                tr.measured(
                    c, lambda: self.table.append(gold, txn_id=f"drop-{len(self.recs)}"),
                    shuffle=True, sql=(("groups", ROWS, WRITE_NODE),),
                )
            self.seen_batches.update(batches)
            if tr.enabled:
                # what this drop added to the band-pass and epoch tables
                dc["bytes_written"] = (
                    tree_size(bp_dir)[1] + tree_size(out["gold_epoch"])[1] - epoch_bytes
                )
        fresh = time.perf_counter() - landed_at
        self.recs.extend(self.pending)
        return fresh

    def lookups(self, req: str) -> bool:
        from eeg_data_lake_spark.sources.txlog import maybe_compact

        tr = self.ctx.tracer
        with tr.span("sources.txlog.compact", req) as c:
            c["compacted"] = maybe_compact(
                self.table, max_small_files=self.COMPACT_AFTER_SMALL_FILES,
                txn_id=f"compact-{len(self.recs)}",
            ) is not None
        self.compactions += c["compacted"]
        ok = True
        for j in range(self.LOOKUPS_PER_DROP):
            r = self.recs[self.rng.randrange(len(self.recs))]
            preds = [("synset", "=", r.synset), ("image_id", "=", r.image_id)]
            t0 = time.perf_counter()
            with tr.span("sources.txlog.lookup", f"{req}.l{j}"):
                rows = self.table.read(predicates=preds).select("channel").collect()
            self.lookup_lat.append((time.perf_counter() - t0, tr.enabled))
            if tr.enabled:
                live = len(self.table.matching_files([]))
                self.lookup_matched.append(len(self.table.matching_files(preds)) / live)
            ok = ok and sorted(x.channel for x in rows) == sorted(gen.CHANNELS)
        return ok

    def check(self) -> None:
        """Every processed recording is in the gold table exactly once
        per channel, with the count, mean and std numpy recomputes."""
        self.ctx.attempted += 1
        got = self.table.read().select(
            "synset", "image_id", "channel", "n_samples", "mean_value", "std_value"
        ).toPandas()
        problems = check_gold(got, gen.expected_gold(self.recs))
        if problems:
            self.ctx.fail("incremental gold check", problems)

    def measured_drops(self, traced: bool = False) -> list[dict]:
        return [d for d in self.drops if d["traced"] == traced and "latency" in d]

    def end_to_end(self) -> dict:
        drops = self.measured_drops()
        return {
            "throughput_per_s": sum(d["samples"] for d in drops)
            / sum(d["latency"] for d in drops),
            "latency_p50_s": statistics.median(d["freshness"] for d in drops),
        }

    def report(self) -> dict:
        fresh = [d["freshness"] for d in self.measured_drops()]
        look = [lat for lat, t in self.lookup_lat if not t]
        stored = sum(tree_size(p)[1] for n, p in self.out.items() if not n.startswith("_"))
        samples = gen.token_counts(self.recs)[1]
        return {
            "samples_per_s": (self.end_to_end()["throughput_per_s"], "1/s"),
            "stored_bytes_per_sample": (stored / samples, "B"),
            "freshness_p50_s": (statistics.median(fresh), "s"),
            "freshness_tail_s": tail_report(fresh),
            "lookup_p50_s": (statistics.median(look), "s"),
            "lookup_tail_s": tail_report(look),
            "samples_per_drop": (samples / len(self.recs) * self.RECORDINGS_PER_DROP, "count"),
        }

    def per_layer(self) -> dict:
        tr = self.ctx.tracer
        ingest = tr.durations("streaming.ingest")
        silver = tr.durations("streaming.silver")
        bronze_rows = tr.counter_sum("streaming.silver", "bronze_rows")
        silver_rows = tr.counter_sum("streaming.silver", "silver_rows")
        n = len(ingest) or 1

        def per_drop(v):
            return None if v is None else v / n

        return {
            "streaming.ingest.trigger_p50_s": median_or_zero(ingest),
            "streaming.ingest.trigger_growth": growth(ingest) or 0.0,
            "streaming.silver.trigger_p50_s": median_or_zero(silver),
            "streaming.silver.trigger_growth": growth(silver) or 0.0,
            "pipeline.bronze.kept_ratio": ratio(
                bronze_rows, tr.counter_sum("streaming.ingest", "tokens_parsed")
            ),
            "pipeline.silver.shuffle_bytes": per_drop(tr.counter_sum("streaming.silver", "shuffle_bytes")),
            "pipeline.silver.shuffle_records": per_drop(tr.counter_sum("streaming.silver", "shuffle_records")),
            "pipeline.silver.spill_bytes": per_drop(tr.counter_sum("streaming.silver", "spill_bytes")),
            "pipeline.silver.outlier_ratio": None if silver_rows is None or bronze_rows is None
            else ratio(bronze_rows - silver_rows, bronze_rows),
            "pipeline.gold.epoch_s": median_or_zero(tr.durations("pipeline.gold.epoch")),
            "pipeline.gold.shuffle_records": per_drop(add(
                tr.counter_sum("pipeline.gold.epoch", "shuffle_records"),
                tr.counter_sum("sources.txlog.append", "shuffle_records"),
            )),
            "functions.signal.bandpass_s": median_or_zero(tr.durations("functions.signal.bandpass")),
            "functions.signal.groups": per_drop(tr.counter_sum("sources.txlog.append", "groups")),
            "sources.writers.files_written": per_drop(add(
                tr.counter_sum("functions.signal.bandpass", "files_written"),
                tr.counter_sum("pipeline.gold.epoch", "files_written"),
            )),
            "sources.writers.bytes_written": median_or_zero([
                s.counters["bytes_written"] for s in tr.spans if s.name == "incremental.drop"
            ]),
            "sources.txlog.append_p50_s": median_or_zero(tr.durations("sources.txlog.append")),
            "sources.txlog.compact_s": median_or_zero([
                s.duration for s in tr.spans
                if s.name == "sources.txlog.compact" and s.counters["compacted"]
            ]),
            "sources.txlog.compactions": self.compactions / len(self.versions),
            "sources.txlog.live_files": len(self.table.matching_files(
                [], version=self.versions[self.LIVE_FILES_AFTER - 1]
            )),
            # log versions committed per drop (appends and compactions)
            "sources.txlog.version": (self.versions[-1] - self.versions[0])
            / (len(self.versions) - 1),
            "sources.txlog.lookup_s": median_or_zero(tr.durations("sources.txlog.lookup")),
            "sources.txlog.skip_ratio": median_or_zero(self.lookup_matched),
        }


def tail_report(values: list[float]) -> tuple:
    tl = tail(values)
    if tl is None:
        return None, f"s (n/a: {len(values)} samples, the tail needs 11)"
    return tl[1], f"s (p{tl[0]} of {len(values)} samples)"


def ratio(a, b):
    if a is None or b is None:
        return None
    return a / b if b else 0.0


def add(a, b):
    return None if a is None or b is None else a + b


# -------------------------------------------------------- lakehouse queries

MIX = (
    "q01_pricing_summary", "q16_order_total_zscore", "q22_user_hjorth_params",
    "q50_asof_join_last_order", "q43_tfidf_top_terms", "q33_neardup_shingle_jaccard",
    "z18_exact_substring_dedup", "q37_cosine_topk", "q98_text_embedding_topk",
    "z16_png_codec_roundtrip", "q95_ml_priority_classifier",
)
#: started first in the warm-up, so the longest cold queries overlap the rest
SLOW_COLD = ("q95_ml_priority_classifier", "q98_text_embedding_topk", "z18_exact_substring_dedup")
MODULES = (
    "relational", "windows", "timeseries", "joins_advanced", "text", "dedup",
    "curation", "similarity", "multimodal", "mlops",
)


class LakehouseQueries(Workload):
    """One closed-loop client runs the registry query mix, in an order
    the seed shuffles anew for every pass, over the read-only test
    tables. Whole passes only, so every run measures the same mix of
    queries."""

    WARMUP_CLIENTS = 3
    min_ops = 2

    def generate(self) -> None:
        """The tables are fixed; the seed only orders the queries."""
        self.sf_dir = TABLES
        self.rng = random.Random(self.ctx.seed)
        self.query_lat: list[tuple[str, float, bool, int]] = []

    def warmup(self) -> None:
        """Run every query of the mix once and collect its result, on
        WARMUP_CLIENTS threads, slowest first: the cold pass is mostly
        code generation and JIT compilation, which overlap well. Each
        result is then checked; the checks do not count in set-up."""
        from concurrent.futures import ThreadPoolExecutor

        from eeg_data_lake_spark.workload import REGISTRY

        def collect(name):
            try:
                return REGISTRY[name].spark_fn(self.ctx.spark, self.sf_dir).toPandas()
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                return traceback.format_exc(limit=3)

        order = sorted(MIX, key=lambda n: n not in SLOW_COLD)
        with ThreadPoolExecutor(self.WARMUP_CLIENTS) as pool:
            results = dict(zip(order, pool.map(collect, order)))
        t0 = time.perf_counter()
        for name in MIX:
            self.ctx.attempted += 1
            got = results[name]
            if isinstance(got, str):
                self.ctx.fail(f"{name} warm-up: {got}")
                continue
            problems = self.check_result(name, REGISTRY[name].oracle, got)
            if problems:
                self.ctx.fail(f"{name} check", problems)
        self.untimed_setup_s += time.perf_counter() - t0

    def check(self) -> None:
        """Results were checked once each during the warm-up pass."""

    def check_result(self, name: str, oracle: str | None, got) -> list[str]:
        if oracle is not None:
            # compare() collects a Spark frame; this one is collected
            collected = SimpleNamespace(toPandas=lambda: got)
            return compare(collected, run_oracle(oracle, self.sf_dir), name)
        problems = []
        if name == "q98_text_embedding_topk":
            # top-3 neighbours for each of the 5 lowest doc ids
            if len(got) != 15:
                problems.append(f"{len(got)} rows, expected 15")
            if got.isna().any().any():
                problems.append("null values")
        elif name == "q95_ml_priority_classifier":
            n_orders = run_oracle("SELECT count(*) AS n FROM orders", self.sf_dir)["n"][0]
            if not 0 < len(got) < n_orders or got["o_orderkey"].nunique() != len(got):
                problems.append(f"{len(got)} held-out rows of {n_orders} orders")
            if not got["predicted_label"].between(0, 4).all():
                problems.append("label outside the 5 priorities")
        want_cols = {
            "q98_text_embedding_topk": ["query_id", "neighbor_id", "cosine"],
            "q95_ml_priority_classifier": ["o_orderkey", "predicted_label"],
        }[name]
        if list(got.columns) != want_cols:
            problems.append(f"columns {list(got.columns)} != {want_cols}")
        return problems

    def run_op(self, k: int) -> None:
        """One op is one whole pass over the mix."""
        from eeg_data_lake_spark.workload import REGISTRY

        order = list(MIX)
        self.rng.shuffle(order)
        tr = self.ctx.tracer
        for name in order:
            fn = REGISTRY[name].spark_fn

            def query(name=name, fn=fn):
                with tr.span("query", f"p{k}.{name}"):
                    with tr.span(f"query.{name}.plan", f"p{k}.{name}"):
                        df = fn(self.ctx.spark, self.sf_dir)
                    with tr.span(f"query.{name}.exec", f"p{k}.{name}") as c:
                        tr.measured(
                            c, lambda: df.write.format("noop").mode("overwrite").save(),
                            shuffle=True,
                        )

            op = self.timed(k, query)
            if op is not None:
                self.query_lat.append((name, op.latency, op.traced, k))

    def latencies(self, traced: bool = False) -> list[float]:
        return [lat for _, lat, t, _ in self.query_lat if t == traced]

    def pass_latencies(self) -> list[float]:
        """Untraced passes: the time one client waits for every answer of
        the mix (a dashboard of len(MIX) panels refreshing)."""
        passes: dict[int, float] = {}
        for _, lat, t, k in self.query_lat:
            if not t:
                passes[k] = passes.get(k, 0.0) + lat
        return list(passes.values())

    def end_to_end(self) -> dict:
        lat = self.latencies()
        return {
            "throughput_per_s": len(lat) / sum(lat),
            "latency_p50_s": statistics.median(self.pass_latencies()),
        }

    def report(self) -> dict:
        lat = self.latencies()
        return {
            "queries_per_s": (self.end_to_end()["throughput_per_s"], "1/s"),
            "pass_p50_s": (self.end_to_end()["latency_p50_s"], "s"),
            "query_p50_s": (statistics.median(lat), "s"),
            "query_tail_s": tail_report(lat),
        }

    def per_layer(self) -> dict:
        from eeg_data_lake_spark.plans import explain_cost
        from eeg_data_lake_spark.workload import REGISTRY

        tr = self.ctx.tracer
        out = {}
        by_module: dict[str, list[float]] = {}
        for name in MIX:
            fn = REGISTRY[name].spark_fn
            exec_spans = [s for s in tr.spans if s.name == f"query.{name}.exec"]
            out[f"query.{name}.plan_s"] = median_or_zero(tr.durations(f"query.{name}.plan"))
            out[f"query.{name}.exec_s"] = median_or_zero([s.duration for s in exec_spans])
            recs = [s.counters.get("shuffle_records") for s in exec_spans]
            out[f"query.{name}.shuffle_records"] = (
                None if not recs or None in recs else statistics.median(recs)
            )
            out[f"query.{name}.python_stages"] = explain_cost(
                fn(self.ctx.spark, self.sf_dir)
            )["python_stages"]
            module = fn.__module__.rsplit(".", 1)[1]
            by_module.setdefault(module, []).extend(
                lat for n, lat, t, _ in self.query_lat if t and n == name
            )
        for m in MODULES:
            out[f"workload.{m}.p50_s"] = median_or_zero(by_module.get(m, []))
        return out


WORKLOADS = {
    "incremental": Incremental,
    "lakehouse_queries": LakehouseQueries,
}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
