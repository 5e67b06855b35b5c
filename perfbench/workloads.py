"""The three workloads: inputs, warm-up, one timed pass, gates, layers.

A *pass* is a fixed unit of work. An *op* is what the client waits on
and what can fail: one ETL load or batch, one curation run, one query.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import __spark_entry__
from financial_data_pipeline_optimization_spark import queries, sources
from financial_data_pipeline_optimization_spark.operators import dedup, graph, text
from financial_data_pipeline_optimization_spark.plans import corpus, finance
from financial_data_pipeline_optimization_spark.sources import readers, sinks

import gen
import oracle
from spans import Span, Tracer, subtree_totals
from verify_oracle import _norm_rows


@dataclass
class Op:
    kind: str
    latency_s: float
    error: str | None = None
    span: Span | None = None
    query: str = ""


@dataclass
class Pass:
    wall_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    output: Path | None = None


def span(tracer: Tracer | None, name: str):
    return nullcontext() if tracer is None else tracer.span(name)


def timed_op(kind: str, tracer: Tracer | None, fn, query: str = "") -> Op:
    """Run ``fn`` as one op; a raise is recorded as the op's failure."""
    t0 = time.perf_counter()
    error = None
    with span(tracer, f"op:{kind}") as op_span:
        try:
            fn()
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            error = traceback.format_exc()
            print(error, file=sys.stderr)
    return Op(kind, time.perf_counter() - t0, error, op_span, query)


def drop_one_row(path: Path) -> None:
    """Planted fault for the benchmark's own test: remove the first
    row of one data file under ``path``."""
    part = sorted(path.rglob("*.parquet"))[0]
    pq.write_table(pq.read_table(part).slice(1), part)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return statistics.geometric_mean(xs) if xs else 0.0


def by_name(op: Op) -> dict[str, list[Span]]:
    """Outermost spans of each name under ``op``."""
    out: dict[str, list[Span]] = {}

    def visit(s: Span, open_names: frozenset) -> None:
        if s.name not in open_names:
            out.setdefault(s.name, []).append(s)
        for c in s.children:
            visit(c, open_names | {s.name})

    if op.span is not None:
        visit(op.span, frozenset())
    return out


def span_stats(op: Op, name: str) -> dict[str, float]:
    """wall/self seconds and inclusive job totals of span ``name`` in
    ``op`` (summed over its outermost occurrences)."""
    spans = by_name(op).get(name, [])
    out = {"wall_s": 0.0, "self_s": 0.0}
    for s in spans:
        out["wall_s"] += s.wall_s
        for t in s.walk():
            if t.name == name:
                out["self_s"] += t.self_s
        for k, v in subtree_totals(s).items():
            out[k] = out.get(k, 0.0) + v
    return out


def wall_of(op: Op, prefix: str) -> float:
    """Summed wall time of the outermost spans whose name starts with
    ``prefix``."""
    total = 0.0

    def visit(s: Span) -> None:
        nonlocal total
        if s.name.startswith(prefix):
            total += s.wall_s
            return
        for c in s.children:
            visit(c)

    if op.span is not None:
        visit(op.span)
    return total


class Workload:
    """Shared shape; subclasses fill in the workload."""

    name = ""
    #: the op kind whose latencies give op_p50_s and op_geomean_s
    op_kind = ""

    def __init__(self, spark, seed: int, work: Path, sizes: dict, cache) -> None:
        self.spark, self.seed, self.work, self.sizes = spark, seed, work, sizes
        self.cache = cache
        self.tracer: Tracer | None = None

    def install(self, tracer: Tracer) -> None:
        self.tracer = tracer
        for module, fn, span_name in self.traced_functions():
            tracer.wrap(module, fn, span_name)

    def traced_functions(self):
        return []

    def op_latencies(self, passes: list[Pass]) -> list[float]:
        return [o.latency_s for p in passes for o in p.ops if o.kind == self.op_kind]


# ---------------------------------------------------------------------------


class FinanceEtl(Workload):
    """``run_pipeline(mode='initial')`` on the history, then every batch
    through ``run_pipeline(mode='incremental')``, into a fresh
    warehouse each pass."""

    name = "finance_etl"
    op_kind = "incr"

    def traced_functions(self):
        return [
            (finance, "run_pipeline", "plans.finance.run_pipeline"),
            (finance, "extract_prices", "plans.finance.extract_prices"),
            (finance, "transform_prices", "plans.finance.transform_prices"),
            (finance, "incremental_new_rows", "plans.finance.incremental_new_rows"),
            (sinks, "write_parquet", "sources.write_parquet"),
            (readers, "read_parquet_if_exists", "sources.read_parquet_if_exists"),
            (readers, "read_parquet", "sources.read_parquet"),
        ]

    def generate(self) -> None:
        s = self.sizes
        self.history, self.batches = gen.finance_inputs(
            self.seed, self.work / "landing", s["tickers"], s["days"], s["batches"]
        )

    def warmup(self) -> None:
        hist, batches = gen.finance_inputs(self.seed, self.work / "warm", 10, 40, 1)
        self._load(hist, batches, self.work / "warm_wh")

    def _load(self, hist: Path, batches: list[Path], wh: Path) -> list[Op]:
        def init():
            finance.run_pipeline(
                sources.read_parquet(self.spark, str(hist)), str(wh), mode="initial"
            )

        ops = [timed_op("init", self.tracer, init)]
        for b in batches:
            if ops[0].error:
                break

            def incr(b=b):
                if self.tracer is not None:
                    self._trace_scan_base(b, wh)
                finance.run_pipeline(
                    sources.read_parquet(self.spark, str(b)), str(wh),
                    mode="incremental",
                )

            ops.append(timed_op("incr", self.tracer, incr))
        return ops

    def _trace_scan_base(self, batch: Path, wh: Path) -> None:
        """Bytes on disk of the warehouse and of the batch, the bases of
        ``scan_frac`` (traced runs only)."""
        t0 = time.perf_counter()
        span = self.tracer.current
        span.attrs["wh_bytes"] = sum(f.stat().st_size for f in wh.rglob("*.parquet"))
        span.attrs["batch_bytes"] = batch.stat().st_size
        self.tracer.overhead_s += time.perf_counter() - t0

    def run_pass(self, i: int) -> Pass:
        wh = self.work / f"wh_{i}"
        return Pass(ops=self._load(self.history, self.batches, wh), output=wh)

    def check(self, passes: list[Pass], plant: bool) -> list[str]:
        want_n, want_h = oracle.warehouse_expected([self.history, *self.batches])
        problems = []
        for i, p in enumerate(passes):
            if plant and i == len(passes) - 1:
                drop_one_row(p.output)
            n, ids, h = oracle.warehouse_actual(p.output)
            if (n, ids, h) != (want_n, want_n, want_h):
                problems.append(
                    f"pass {i}: warehouse rows={n} distinct ids={ids} "
                    f"hash={h}; expected rows={want_n} hash={want_h}"
                )
                for o in p.ops:
                    o.error = o.error or "warehouse gate failed"
        return problems

    def layers(self, passes: list[Pass]) -> dict[str, float]:
        inits = [o for p in passes for o in p.ops if o.kind == "init" and not o.error]
        incrs = [o for p in passes for o in p.ops if o.kind == "incr" and not o.error]
        out = {}

        def put(ops, name, suffix, keys):
            for k in keys:
                out[f"{name}.{suffix}.{k}"] = median(
                    span_stats(o, name).get(k, 0.0) for o in ops
                )

        rp = "plans.finance.run_pipeline"
        put(inits, rp, "init", ["wall_s", "self_s", "jobs", "cpu_s", "shuffle_mb", "io_mb", "spill_mb"])
        put(inits, "sources.write_parquet", "init", ["wall_s", "jobs", "cpu_s", "io_mb"])
        put(incrs, rp, "incr", ["wall_s", "self_s", "jobs", "cpu_s", "io_mb"])
        put(incrs, "sources.read_parquet_if_exists", "incr", ["wall_s"])
        put(incrs, "plans.finance.incremental_new_rows", "incr", ["wall_s", "jobs", "io_mb"])
        put(incrs, "sources.write_parquet", "incr", ["wall_s", "jobs"])
        for ops, suffix in ((inits, "init"), (incrs, "incr")):
            out[f"plans.finance.transform.{suffix}.wall_s"] = median(
                wall_of(o, "plans.finance.extract_prices")
                + wall_of(o, "plans.finance.transform_prices")
                for o in ops
            )

        def scan_frac(o: Op) -> float:
            # the anti-join against the warehouse runs in the write's job
            read_mb = span_stats(o, "sources.write_parquet")["input_mb"]
            base = o.span.attrs
            return max(0.0, read_mb * 1e6 - base["batch_bytes"]) / base["wh_bytes"]

        out["plans.finance.incremental_new_rows.incr.scan_frac"] = median(
            scan_frac(o) for o in incrs
        )
        return out


# ---------------------------------------------------------------------------


class Curation(Workload):
    """``plans.corpus.curate_corpus`` on the relabelled corpus, then the
    survivors written partitioned by split."""

    name = "curation"
    op_kind = "curate"

    def traced_functions(self):
        fns = [
            (corpus, "curate_corpus", "plans.corpus.curate_corpus"),
            (dedup, "exact_dedup", "operators.dedup.exact_dedup"),
            (dedup, "near_dup_clusters", "operators.dedup.near_dup_clusters"),
            (graph, "connected_components", "operators.graph.connected_components"),
            (sinks, "write_parquet", "sources.write_parquet"),
            (readers, "read_parquet", "sources.read_parquet"),
        ]
        for fn in ("clean_text", "redact_pii", "with_lang_id", "quality_filter", "with_token_count"):
            fns.append((text, fn, f"operators.text.{fn}"))
        return fns

    def generate(self) -> None:
        self.docs = gen.relabelled_documents(
            self.seed, self.work / "landing", self.sizes["docs"]
        )

    def warmup(self) -> None:
        docs = gen.relabelled_documents(self.seed, self.work / "warm", self.sizes["warm_docs"])
        self._curate(docs, self.work / "warm_out")

    def _curate(self, docs: Path, out: Path) -> Op:
        def run():
            survivors = corpus.curate_corpus(sources.read_parquet(self.spark, str(docs)))
            sources.write_parquet(survivors, str(out), partition_by=["split"])

        return timed_op("curate", self.tracer, run)

    def run_pass(self, i: int) -> Pass:
        out = self.work / f"curated_{i}"
        return Pass(ops=[self._curate(self.docs, out)], output=out)

    def check(self, passes: list[Pass], plant: bool) -> list[str]:
        funnel = __spark_entry__.oracle_sql()["corpus_curation_funnel"]
        want = oracle.survivor_ids(self.cache, funnel, self.docs)
        problems = []
        for i, p in enumerate(passes):
            if p.ops[0].error:
                continue
            if plant and i == len(passes) - 1:
                drop_one_row(p.output)
            ids, splits = oracle.written_ids(p.output)
            if len(ids) != len(set(ids)) or set(ids) != want or not splits <= {"train", "val", "test"}:
                problems.append(
                    f"pass {i}: {len(ids)} written ids ({len(set(ids))} distinct), "
                    f"{len(set(ids) ^ want)} differ from the {len(want)} oracle survivors; "
                    f"splits {sorted(splits)}"
                )
                p.ops[0].error = "survivor gate failed"
        return problems

    def layers(self, passes: list[Pass]) -> dict[str, float]:
        ops = [p.ops[0] for p in passes if not p.ops[0].error]
        wanted = {
            "plans.corpus.curate_corpus": ["wall_s", "self_s", "jobs", "cpu_s", "shuffle_mb"],
            "operators.dedup.exact_dedup": ["wall_s"],
            "operators.dedup.near_dup_clusters": ["wall_s", "self_s", "jobs", "cpu_s", "shuffle_mb", "spill_mb"],
            "operators.graph.connected_components": ["wall_s", "jobs", "shuffle_mb"],
            "sources.write_parquet": ["wall_s", "jobs", "cpu_s", "shuffle_mb", "io_mb"],
        }
        out = {
            f"{name}.{k}": median(span_stats(o, name).get(k, 0.0) for o in ops)
            for name, keys in wanted.items()
            for k in keys
        }
        out["operators.text.wall_s"] = median(wall_of(o, "operators.text.") for o in ops)
        return out


# ---------------------------------------------------------------------------

#: One query per layer the pipelines do not reach, plus the dedup /
#: connected-components shape that the curation funnel uses.
MIX = (
    "tpch_q21_waiting_suppliers",
    "finance_ema",
    "asof_join_last_view",
    "bm25_topk_docs",
    "knn_brute_force",
    "cluster_representatives",
)


class QueryMix(Workload):
    """Each registered query of :data:`MIX`, in that order, built (plan)
    and fully materialised into a ``noop`` sink (exec)."""

    name = "query_mix"
    op_kind = "query"

    def traced_functions(self):
        return [
            (dedup, "near_dup_clusters", "operators.dedup.near_dup_clusters"),
            (graph, "connected_components", "operators.graph.connected_components"),
        ]

    def generate(self) -> None:
        self.sf_dir = gen.mix_tables(self.seed, self.work / "tables", self.sizes["scale"])
        self.specs = {s.name: s for s in queries.registry()}

    def warmup(self) -> None:
        """One full pass that collects every result for the gate."""
        self.results = {}
        for name in MIX:
            try:
                df = self.specs[name].spark(self.spark, str(self.sf_dir))
                self.results[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 — reported by the gate
                print(traceback.format_exc(), file=sys.stderr)

    def _query(self, name: str) -> Op:
        def run():
            with span(self.tracer, f"queries.{name}.plan"):
                df = self.specs[name].spark(self.spark, str(self.sf_dir))
            with span(self.tracer, f"queries.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()

        return timed_op("query", self.tracer, run, name)

    def run_pass(self, i: int) -> Pass:
        return Pass(ops=[self._query(n) for n in MIX])

    def check(self, passes: list[Pass], plant: bool) -> list[str]:
        problems = []
        for name in MIX:
            got = self.results.get(name)
            if got is not None and plant and name == MIX[0]:
                got = (got[0], got[1][1:])
            cols, rows = oracle.query_rows(self.cache, self.specs[name].oracle, self.sf_dir)
            if got is None or _norm_rows(*got) != _norm_rows(cols, rows):
                problems.append(
                    f"{name}: "
                    + ("raised in the warm-up pass" if got is None
                       else f"{len(got[1])} rows vs oracle {len(rows)}, or values differ")
                )
                for p in passes:
                    for o in p.ops:
                        if o.query == name:
                            o.error = o.error or "oracle gate failed"
        return problems

    def layers(self, passes: list[Pass]) -> dict[str, float]:
        out = {}
        ok = [p for p in passes if not any(o.error for o in p.ops)]
        for name in MIX:
            for phase, key in (("plan", "plan_s"), ("exec", "exec_s")):
                out[f"queries.{name}.{key}"] = median(
                    span_stats(o, f"queries.{name}.{phase}")["wall_s"]
                    for p in ok for o in p.ops if o.query == name
                )

        def per_pass(phase: str, k: str) -> float:
            return median(
                sum(span_stats(o, f"queries.{o.query}.{phase}").get(k, 0.0) for o in p.ops)
                for p in ok
            )

        out["queries.plan.jobs"] = per_pass("plan", "jobs")
        for k in ("jobs", "cpu_s", "shuffle_mb", "spill_mb"):
            out[f"queries.exec.{k}"] = per_pass("exec", k)
        return out


WORKLOADS = {w.name: w for w in (FinanceEtl, Curation, QueryMix)}
