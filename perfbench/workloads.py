"""The workloads. Each one generates its inputs from the seed, runs one
pass against the package's public API, times only that call, and then
checks the pass's outputs against the generator's truth."""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import gen
from tracing import Tracer, cached_bytes, maybe_span


@dataclass
class Outcome:
    """One pass: its timed seconds, input rows, and checked operations."""

    seconds: float
    rows: int
    attempted: int = 1
    failed: int = 0
    values: dict[str, float] = field(default_factory=dict)  # per-pass layer numbers
    samples: dict[str, list[float]] = field(default_factory=dict)  # pooled across passes


def _line_count(pattern: str) -> int:
    n = 0
    for path in glob.glob(pattern):
        with open(path, "rb") as f:
            n += sum(1 for _ in f)
    return n


def _parquet_rows(directory: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True)
    )


class Workload:
    name = ""
    sizes: dict[str, int] = {}
    # untimed passes after set-up (16-20 s at 4 cores), while the JIT
    # compiler threads still take a core or more. A fixed count, not a
    # fixed time, so every run measures from the same JIT state.
    warm_passes = 8

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        """Wrap the layer functions this workload calls in spans."""

    def run_pass(self, spark, tracer: Tracer | None) -> Outcome:
        raise NotImplementedError

    def finish(self, spark, tracer: Tracer | None) -> Outcome | None:
        """Work that closes the run, after the measured passes."""
        return None

    def _fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------------------


class ReconBatch(Workload):
    """ReconciliationPipeline.run with partitioned JSON sinks. Traced runs
    end with the streaming twin (``StreamTwin``)."""

    name = "recon_batch"
    sizes = {"unique_trades": 24_000}

    def generate(self) -> None:
        self.trades = gen.make_trades(self.seed, self.sizes["unique_trades"])
        self.input_dir = os.path.join(self.work, "recon_in")
        gen.write_recon_inputs(self.trades, self.input_dir)

    def instrument(self, tracer: Tracer) -> None:
        from onechronos_etl_takehome_spark.pipeline import etl, rules

        tracer.wrap(etl, "read_dirty_csv", "readers.read_dirty_csv")
        tracer.wrap(etl, "deterministic_dedup", "dedup.deterministic_dedup")
        tracer.wrap(rules, "apply_rules", "etl.apply_rules")
        tracer.wrap(rules, "reconcile", "etl.reconcile")
        tracer.wrap(etl, "write_json", "sinks.write_json", before=self._note_cache)
        self._cache_bytes = 0

    def _note_cache(self) -> None:
        # the validated frame is cached by the time the sinks run
        self._cache_bytes = max(self._cache_bytes, cached_bytes())

    def run_pass(self, spark, tracer: Tracer | None) -> Outcome:
        from onechronos_etl_takehome_spark.pipeline.etl import (
            ReconciliationPipeline,
            default_config,
        )

        cfg = default_config()
        cfg["output"]["single_file"] = False
        out = self._fresh("recon_out")
        self._cache_bytes = 0
        t0 = time.perf_counter()
        with maybe_span(tracer, "etl.run"):
            metrics = ReconciliationPipeline(spark, cfg, input_dir=self.input_dir).run(out)
        seconds = time.perf_counter() - t0
        truth = self.trades.truth
        cleaned = _line_count(os.path.join(out, "cleaned_trades.json", "part-*"))
        exceptions = _line_count(os.path.join(out, "exceptions_report.json", "part-*"))
        ok = (
            metrics == truth
            and cleaned == truth["successful_trades"]
            and exceptions == truth["invalid_trades"]
        )
        return Outcome(
            seconds, truth["processed_trades"], failed=0 if ok else 1,
            values={
                "dedup.rows_in": metrics.get("processed_trades", 0),
                "dedup.rows_out": metrics.get("processed_trades", 0)
                - metrics.get("duplicate_trades", 0),
                "etl.cache_bytes": self._cache_bytes,
            },
        )

    def finish(self, spark, tracer: Tracer | None) -> Outcome | None:
        """Traced runs also drive the streaming twin for the stream layer."""
        if tracer is None:
            return None
        stream = StreamTwin(self.work, self.seed, spark, tracer)
        try:
            passes = [stream.land(k, tracer) for k in range(stream.sizes["passes"])]
        finally:
            stream.query.stop()
        samples: dict[str, list[float]] = {}
        for p in passes:
            for k, v in p.samples.items():
                samples.setdefault(k, []).extend(v)
        values = {
            k: float(np.median([p.values[k] for p in passes])) for k in passes[0].values
        }
        values["stream.rows_dropped_by_watermark"] = sum(
            p.values["stream.rows_dropped_by_watermark"] for p in passes
        )
        return Outcome(
            0.0, 0, attempted=len(passes), failed=sum(p.failed for p in passes),
            values=values, samples=samples,
        )


class StreamTwin:
    """The streaming twin of the pipeline: a running
    start_reconciliation_stream query that lands one drop file per pass
    and waits for the query to process it. A microbatch costs seconds at
    low core counts (32 shuffle and state partitions), so a timed run of
    it would take about a minute; it runs at the end of recon_batch's
    traced runs instead."""

    sizes = {"unique_trades": 8_000, "drop_files": 32, "passes": 3}

    def __init__(self, work: str, seed: int, spark, tracer: Tracer) -> None:
        from onechronos_etl_takehome_spark.streaming import trades_stream

        self.trades = gen.make_trades(
            seed, self.sizes["unique_trades"], n_slices=self.sizes["drop_files"]
        )
        dims = os.path.join(work, "stream_dims")
        gen.write_dims(self.trades, dims)
        self.drops = gen.write_stream_drops(self.trades, os.path.join(work, "stream_drops"))
        self.landing = os.path.join(work, "stream_landing")
        self.out = os.path.join(work, "stream_out")
        os.makedirs(self.landing)
        with maybe_span(tracer, "stream.start_reconciliation_stream"):
            self.query = trades_stream.start_reconciliation_stream(
                spark, trades_dir=self.landing, dims_dir=dims, output_dir=self.out,
                checkpoint_dir=os.path.join(work, "stream_checkpoint"),
                max_files_per_trigger=1,
            )
        self._seen_batch = -1
        self._rows_out = (0, 0)

    def land(self, k: int, tracer: Tracer) -> Outcome:
        t0 = time.perf_counter()
        tmp = os.path.join(self.landing, f".{k}.tmp")  # hidden from the file source
        shutil.copyfile(self.drops[k], tmp)
        os.rename(tmp, os.path.join(self.landing, f"drop-{k:04d}.csv"))
        with maybe_span(tracer, "stream.process_all_available"):
            self.query.processAllAvailable()
        seconds = time.perf_counter() - t0
        progress = [p for p in self.query.recentProgress if p["batchId"] > self._seen_batch]
        if progress:
            self._seen_batch = progress[-1]["batchId"]
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        state = [op for p in progress for op in p.get("stateOperators", [])]
        dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in state)
        rows_out = (
            _parquet_rows(os.path.join(self.out, "cleaned")),
            _parquet_rows(os.path.join(self.out, "exceptions")),
        )
        truth = self.trades.stream_truth
        ok = (
            self.query.exception() is None
            and dropped == 0
            and rows_out[0] - self._rows_out[0] == truth["cleaned"][k]
            and rows_out[1] - self._rows_out[1] == truth["exceptions"][k]
        )
        self._rows_out = rows_out

        def dur(key: str) -> list[float]:
            return [float(p["durationMs"].get(key, 0)) for p in data]

        return Outcome(
            seconds, 0, failed=0 if ok else 1,
            values={
                "stream.state_rows": max((op.get("numRowsTotal", 0) for op in state), default=0),
                "stream.state_mem_bytes": max((op.get("memoryUsedBytes", 0) for op in state), default=0),
                "stream.rows_dropped_by_watermark": dropped,
                "stream.microbatches": len(data),
            },
            samples={
                "stream.batch_p50_ms": dur("triggerExecution"),
                "stream.add_batch_ms_p50": dur("addBatch"),
                "stream.wal_commit_ms_p50": dur("walCommit"),
                "stream.commit_offsets_ms_p50": dur("commitOffsets"),
                "stream.planning_ms_p50": dur("queryPlanning"),
            },
        )


class TradeLedger(Workload):
    """One txlog table for the whole run. A pass appends a batch, merges
    its price corrections, deletes the previous batch and this batch's
    cancels (so the table keeps one batch live), and reads the table
    back. Traced runs end with a time-travel read, an update, a
    compaction and the change feed, then with the similarity twin
    (``VectorTopk.twin``)."""

    name = "trade_ledger"
    sizes = {"rows_per_batch": 2_000}

    def generate(self) -> None:
        self.path = os.path.join(self.work, "ledger")
        self.src = os.path.join(self.work, "ledger_in")
        os.makedirs(self.src)
        self.user_bytes = 0
        self.totals = (0, 0, 0)  # rows, sum(quantity), sum(cents) on the table
        self.at_version: dict[int, tuple[int, int, int]] = {}
        self.cdf = [0, 0]  # inserts, deletes since version 0
        self.live_aapl = 0
        self.version = -1
        self.merge_versions: list[int] = []
        self.create_ms = 0.0
        self._batch = 0

    def _files(self, k: int) -> tuple[gen.LedgerBatch, str, str]:
        import pyarrow.parquet as pq

        b = gen.ledger_batch(self.seed, k, self.sizes["rows_per_batch"])
        rows = os.path.join(self.src, f"batch-{k:05d}.parquet")
        fix = os.path.join(self.src, f"fix-{k:05d}.parquet")
        pq.write_table(gen.ledger_table(b.rows), rows)
        pq.write_table(gen.ledger_table(b.corrections), fix)
        self.user_bytes += os.path.getsize(rows) + os.path.getsize(fix)
        return b, rows, fix

    def _step(self, tracer, samples, op: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        with maybe_span(tracer, f"txlog.{op}"):
            got = fn(*args, **kwargs)
        ms = (time.perf_counter() - t0) * 1000.0
        samples.setdefault(f"txlog.{op}", []).append(ms)
        samples.setdefault("txlog.commit" if op in _COMMITS else "txlog.read", []).append(ms)
        return got, ms / 1000.0

    def _aggregate(self, spark, txlog, version=None) -> tuple[int, int, int]:
        from pyspark.sql import functions as F

        r = txlog.read_table(spark, self.path, version=version).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("quantity").alias("q"),
            F.sum(F.round(F.col("price") * 100).cast("long")).alias("c"),
        ).collect()[0]
        return int(r["n"]), int(r["q"] or 0), int(r["c"] or 0)

    def _commit(self, version: int) -> int:
        """Record the table's totals at ``version``; 1 if it skipped a version."""
        skipped = int(version != self.version + 1)
        self.version = version
        self.at_version[version] = self.totals
        return skipped

    def run_pass(self, spark, tracer: Tracer | None) -> Outcome:
        from pyspark.sql import functions as F

        from onechronos_etl_takehome_spark.sources import txlog

        b, rows_file, fix_file = self._files(self._batch)
        n, q, c = b.rows["trade_id"].size, int(b.rows["quantity"].sum()), int(b.rows["cents"].sum())
        samples: dict[str, list[float]] = {}
        checks = []
        seconds = 0.0
        first = self.version < 0
        op = "create" if first else "append"
        fn = txlog.create_table if first else txlog.append
        v, dt = self._step(tracer, samples, op, fn, spark.read.parquet(rows_file), self.path)
        seconds += dt
        if first:
            self.create_ms = dt * 1000.0
        else:
            self.cdf[0] += n
        self.totals = (self.totals[0] + n, self.totals[1] + q, self.totals[2] + c)
        skipped = self._commit(v)

        fixes = b.corrections["trade_id"].size
        v, dt = self._step(
            tracer, samples, "merge", txlog.merge_into, spark, self.path,
            spark.read.parquet(fix_file), ["trade_id"],
            clauses=[{"when": "matched", "action": "update", "set": {"price": "s.price"}}],
        )
        seconds += dt
        self.merge_versions.append(v)
        self.cdf[0] += fixes
        self.cdf[1] += fixes
        self.totals = (self.totals[0], self.totals[1], self.totals[2] + b.cents_delta)
        skipped += self._commit(v)

        # retention: the previous batch leaves, and so do this batch's cancels
        k = self._batch
        v, dt = self._step(
            tracer, samples, "delete", txlog.delete_where, spark, self.path,
            F.expr(f"batch < {k} OR (batch = {k} AND status = 'CANCELLED')"),
        )
        seconds += dt
        deleted = self.totals[0] - n + b.cancelled[0]
        self.cdf[1] += deleted
        self.totals = (
            n - b.cancelled[0], q - b.cancelled[1], c + b.cents_delta - b.cancelled[2]
        )
        self.live_aapl = b.live_aapl
        skipped += self._commit(v)

        got, dt = self._step(tracer, samples, "read_latest", self._aggregate, spark, txlog)
        seconds += dt
        checks.append(got == self.totals)
        got, dt = self._step(tracer, samples, "count", txlog.table_count, self.path)
        seconds += dt
        checks.append(got == self.totals[0])
        self._batch += 1
        failed = len(checks) - sum(checks) + skipped
        return Outcome(
            seconds, n + fixes + deleted, attempted=5, failed=failed, samples=samples,
        )

    def finish(self, spark, tracer: Tracer | None) -> Outcome | None:
        """The rest of the table's life: update, compact, time travel, CDF."""
        from pyspark.sql import functions as F

        if tracer is None:
            return None
        from onechronos_etl_takehome_spark.sources import txlog

        samples: dict[str, list[float]] = {"txlog.create": [self.create_ms]}
        checks = []
        mid = self.merge_versions[len(self.merge_versions) // 2]
        got, _ = self._step(tracer, samples, "read_version", self._aggregate, spark, txlog, mid)
        checks.append(got == self.at_version[mid])
        v, _ = self._step(
            tracer, samples, "update", txlog.update_where, spark, self.path,
            F.expr("symbol = 'AAPL'"), {"quantity": "quantity + 1"},
        )
        self.cdf[0] += self.live_aapl
        self.cdf[1] += self.live_aapl
        self.totals = (self.totals[0], self.totals[1] + self.live_aapl, self.totals[2])
        skipped = self._commit(v)
        v, _ = self._step(tracer, samples, "compact", txlog.compact, spark, self.path)
        if v is not None:  # None: nothing to compact
            skipped += self._commit(v)
        got, _ = self._step(tracer, samples, "read_latest", self._aggregate, spark, txlog)
        checks.append(got == self.totals)

        def feed():
            rows = txlog.change_feed(spark, self.path, from_version=0).groupBy("_change").count().collect()
            by = {r["_change"]: int(r["count"]) for r in rows}
            return [by.get("insert", 0), by.get("delete", 0)]

        got, _ = self._step(tracer, samples, "change_feed", feed)
        checks.append(got == self.cdf)
        values = self._disk(txlog)
        topk = VectorTopk(self.work, self.seed).twin(spark, tracer)
        values.update(topk.values)
        return Outcome(0.0, 0, attempted=len(checks) + 2 + topk.attempted,
                       failed=len(checks) - sum(checks) + skipped + topk.failed,
                       values=values, samples=samples)

    def instrument(self, tracer: Tracer) -> None:
        from onechronos_etl_takehome_spark.sources import txlog

        counter = _CountingCoordinator(txlog.set_commit_coordinator(None))
        txlog.set_commit_coordinator(counter)
        self.coordinator = counter
        tracer.defer(lambda: txlog.set_commit_coordinator(counter.inner))

    def _disk(self, txlog) -> dict[str, float]:
        path = self.path
        log_dir = os.path.join(path, "_txlog")
        log_files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        log_bytes = sum(os.path.getsize(p) for p in log_files)
        data_bytes = 0
        for dirpath, _dirs, files in os.walk(path):
            if not dirpath.startswith(log_dir):
                data_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        live_bytes = sum(
            os.path.getsize(os.path.join(path, f)) for f in txlog.live_files(path)
        )
        rewritten = [
            (txlog.commit_metrics(path, v) or {}).get("files_removed", 0)
            for v in self.merge_versions
        ]
        return {
            "txlog.log_bytes": log_bytes,
            "txlog.log_files": len(log_files),
            "txlog.checkpoints": sum(1 for p in log_files if p.endswith(".checkpoint.json")),
            "txlog.bytes_per_live_byte": (data_bytes + log_bytes) / max(live_bytes, 1),
            "txlog.bytes_written_per_user_byte": data_bytes / max(self.user_bytes, 1),
            "txlog.files_rewritten_per_merge": sum(rewritten) / max(len(rewritten), 1),
            "txlog.commit_retries": self.coordinator.conflicts,
        }


_COMMITS = {"create", "append", "merge", "update", "delete", "compact"}


class _CountingCoordinator:
    """Delegating commit coordinator that counts lost commit races."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.conflicts = 0

    def publish(self, tmp: str, target: str) -> None:
        from onechronos_etl_takehome_spark.sources.txlog import CommitConflict

        try:
            self.inner.publish(tmp, target)
        except CommitConflict:
            self.conflicts += 1
            raise


class VectorTopk(Workload):
    """operators.similarity.cosine_topk_numpy over clustered embeddings.
    Not a timed workload: its passes land in distinct JVM states from run
    to run (about ±15% in pass time), more than its bound could hold. It
    runs at the end of trade_ledger's traced runs (``twin``) for the
    similarity layer."""

    name = "vector_topk"
    sizes = {"corpus": 100_000, "dim": 64, "queries": 32, "k": 10, "passes": 4}

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        s = self.sizes
        corpus, queries = gen.make_embeddings(self.seed, s["corpus"], s["dim"], s["queries"])
        self.ref_ids, self.ref_scores = gen.topk_reference(corpus, queries, s["k"])
        d = os.path.join(self.work, "vectors")
        os.makedirs(d, exist_ok=True)

        def vectors(m: np.ndarray, dtype):
            flat = pa.array(m.ravel().astype(dtype))
            return pa.ListArray.from_arrays(
                pa.array(np.arange(0, m.size + 1, m.shape[1], dtype=np.int32)), flat
            )

        self.corpus_path = os.path.join(d, "corpus.parquet")
        self.queries_path = os.path.join(d, "queries.parquet")
        pq.write_table(
            pa.table({"corpus_id": np.arange(len(corpus), dtype=np.int64),
                      "corpus_vec": vectors(corpus, np.float32)}),
            self.corpus_path, row_group_size=16_384,
        )
        pq.write_table(
            pa.table({"query_id": np.arange(len(queries), dtype=np.int64) + _QUERY_ID0,
                      "query_vec": vectors(queries, np.float64)}),
            self.queries_path,
        )

    def twin(self, spark, tracer: Tracer) -> Outcome:
        """A cold pass that starts the Python workers, then ``passes``
        traced passes, each read back from the status stores; the
        similarity metrics are their medians."""
        import layers
        from tracing import StatusReader

        self.generate()
        outs = [self.run_pass(spark, None)]
        reader = StatusReader(spark)
        per_pass = []
        for _ in range(self.sizes["passes"]):
            reader.mark()
            since = len(tracer.spans)
            outs.append(self.run_pass(spark, tracer))
            per_pass.append(layers.from_status(reader.read(), tracer, since))
        names = {k for p in per_pass for k in p if k.startswith("similarity.")}
        values = {k: float(np.median([p.get(k, 0.0) for p in per_pass])) for k in names}
        return Outcome(0.0, 0, attempted=len(outs), failed=sum(o.failed for o in outs), values=values)

    def run_pass(self, spark, tracer: Tracer | None) -> Outcome:
        from onechronos_etl_takehome_spark.operators.similarity import cosine_topk_numpy

        t0 = time.perf_counter()
        with maybe_span(tracer, "similarity.cosine_topk_numpy"):
            rows = cosine_topk_numpy(
                spark.read.parquet(self.queries_path),
                spark.read.parquet(self.corpus_path),
                k=self.sizes["k"],
            ).collect()
        seconds = time.perf_counter() - t0
        return Outcome(seconds, self.sizes["corpus"], failed=0 if self._check(rows) else 1)

    def _check(self, rows) -> bool:
        k = self.sizes["k"]
        ids = np.full(self.ref_ids.shape, -1, dtype=np.int64)
        scores = np.zeros(self.ref_scores.shape)
        for r in rows:
            q, rank = r["query_id"] - _QUERY_ID0, r["rank"] - 1
            if not (0 <= q < len(ids) and 0 <= rank < k):
                return False
            ids[q, rank], scores[q, rank] = r["corpus_id"], r["score"]
        if len(rows) != ids.size:
            return False
        # ids must match; where they differ the scores must be a tie
        differ = ids != self.ref_ids
        return bool(np.all(np.abs(scores - self.ref_scores) < 1e-9)) and (
            not differ.any() or bool(np.all(np.abs(scores[differ] - self.ref_scores[differ]) < 1e-12))
        )


_QUERY_ID0 = 1_000_000_000

WORKLOADS = {w.name: w for w in (ReconBatch, TradeLedger)}
