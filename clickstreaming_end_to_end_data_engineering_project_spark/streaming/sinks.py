"""Sink interface for streaming pipelines.

The reference calls sink methods that are defined nowhere
(`postgres.save_dataframe`, `redis.get_pipeline().increment/
add_time_series` — SURVEY.md §0); this module DEFINES those semantics
behind a small interface so pipelines are testable (memory/parquet)
and production-pluggable (jdbc/redis), with the retry policy the
reference intended (3 attempts, 2^n s backoff —
spark_processor/stream_processor.py:305-324).

Update-mode aggregates re-emit changed rows each trigger; a plain
append sink would therefore duplicate keys (a latent reference bug,
stream_processor.py:310).  Sinks that can upsert take ``key_cols`` and
overwrite per key; append-only sinks document that downstream readers
must take the latest row per (key, batch).

Single materialization: a foreachBatch frame is the micro-batch's whole
plan, stateful operator included, and every action on it re-executes
that plan (a stateful one reloads its previous state version and
recomputes).  So the outermost sink call persists the batch and
materializes it with ONE ``count()`` job that doubles as the emptiness
check; every sink nested in that call (``CompositeSink`` children, and
sinks reached through wrappers that are not ``Sink``s) reads the cache
and runs no emptiness job of its own; the cache is released when the
outermost call returns or raises.  A non-empty ``CompositeSink(
IdempotentParquetSink, MetricsSink)`` call therefore runs 3 jobs
(count, write, delta collect), a lone sink 2, an empty batch 1.
"""

from __future__ import annotations

import threading
import time
from abc import ABC, abstractmethod
from collections import defaultdict
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# the frame an enclosing sink call on this thread has already persisted
# and found non-empty: foreachBatch hands a batch to one thread, and
# every nested sink call on it receives the same frame object
_held = threading.local()


@contextmanager
def _materialized(df: DataFrame):
    """Yield whether ``df`` has rows, with ``df`` cached for the block.

    Outermost use: persist ``df`` (unless it is already cached, in
    which case the caller owns the cache), run one ``count()`` that
    materializes it, and unpersist on exit, also on error.  Nested use
    with the same frame object runs no job and yields True.  The check
    is keyed on the enclosing call, not on ``df.is_cached``: a frame
    the caller cached is still counted, so an empty one short-circuits."""
    outer = getattr(_held, "df", None)
    if outer is df:
        yield True
        return
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        nonempty = df.count() > 0
        if nonempty:
            _held.df = df
        yield nonempty
    finally:
        _held.df = outer
        if owned:
            df.unpersist()


def _batch_delta(df: DataFrame, key_col: str, count_col: str) -> list[tuple]:
    """Stage a micro-batch as per-key summed deltas, NULL sums dropped
    (a key whose values are all NULL is left out).  One collect of the
    two projected columns, summed per key on the driver: no shuffle,
    and a scan of the cached batch under a sink call.  The metrics
    family's input is an already-reduced per-key aggregate (see
    ``RedisMetricsSink``), so the collect is the size of the delta the
    driver keeps anyway.  Shared by every metrics-style sink so the
    staging (and its NULL handling) cannot drift between twins;
    everything that can raise happens here, BEFORE any sink state is
    touched, which is what makes the retry wrapper safe."""
    sums: dict = {}
    for key, value in df.select(key_col, count_col).collect():
        if value is not None:
            sums[key] = value if key not in sums else sums[key] + value
    return list(sums.items())


class Sink(ABC):
    """A foreachBatch target.  ``write`` receives a *batch* DataFrame
    (micro-batch of a streaming query, or a whole batch DF)."""

    max_retries = 3

    @abstractmethod
    def write(self, df: DataFrame, batch_id: int) -> None: ...

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch entrypoint: skip an empty batch, else ``write``
        with the reference's retry policy (3 tries, exponential backoff
        — stream_processor.py:305-324), the batch held cached by
        ``_materialized`` throughout."""
        with _materialized(df) as nonempty:
            if not nonempty:
                return
            for attempt in range(self.max_retries):
                try:
                    self.write(df, batch_id)
                    return
                except Exception:
                    if attempt == self.max_retries - 1:
                        raise
                    time.sleep(2**attempt)


class MemorySink(Sink):
    """Driver-side in-memory sink for tests: accumulates rows per key
    (upsert) or appends. Mirrors what the JDBC sink does remotely."""

    def __init__(self, key_cols: list[str] | None = None):
        self.key_cols = key_cols
        self.rows: dict[tuple, dict] = {}
        self._appended: list[dict] = []

    def write(self, df: DataFrame, batch_id: int) -> None:
        collected = [r.asDict(recursive=True) for r in df.collect()]
        if self.key_cols:
            for r in collected:
                self.rows[tuple(r[k] for k in self.key_cols)] = r
        else:
            self._appended.extend(collected)

    @property
    def result(self) -> list[dict]:
        return list(self.rows.values()) if self.key_cols else list(self._appended)


class ParquetSink(Sink):
    """Append-mode parquet sink (the scale-out replacement for the
    reference's Postgres append: distributed write, no driver
    collect)."""

    def __init__(self, path: str, mode: str = "append"):
        self.path = path
        self.mode = mode

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode(self.mode).parquet(self.path)


class IdempotentParquetSink(Sink):
    """Exactly-once parquet sink: each micro-batch overwrites its own
    ``batch_id=N`` partition, so a replayed batch (restart between sink
    write and checkpoint commit — the at-least-once window of
    foreachBatch) lands on top of itself instead of duplicating.
    Readers see one copy per batch regardless of retries."""

    def __init__(self, path: str):
        self.path = path

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{self.path}/batch_id={batch_id}")


class JdbcSink(Sink):
    """JDBC append sink — the defined semantics of the reference's
    undefined ``save_dataframe(df, table, mode="append")``
    (stream_processor.py:310).  Integration-tested end-to-end against
    embedded Derby (bundled with Spark) in
    ``test_jdbc_sink_roundtrip_embedded_derby``; point ``url`` /
    ``properties`` at Postgres + its driver jar for the reference's
    deployment shape."""

    def __init__(self, url: str, table: str, properties: dict | None = None, mode: str = "append"):
        self.url = url
        self.table = table
        self.properties = properties or {}
        self.mode = mode

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.jdbc(self.url, self.table, mode=self.mode, properties=self.properties)


class CompositeSink(Sink):
    """Fan one micro-batch out to several sinks from a SINGLE streaming
    query.  The reference instead starts two queries per pipeline
    (Postgres + Redis — stream_processor.py:158/167, 240/249), which
    re-reads Kafka and recomputes the aggregation twice; one query +
    composite sink halves source load and keeps the sinks in lockstep
    on the same batch.  The batch is materialized once for all the
    children (module docstring).

    No composite-level retry (``max_retries = 1``): each sub-sink runs
    its OWN retry via ``Sink.__call__``, and a sub-sink that already
    succeeded must not be re-run when a sibling fails (that would
    duplicate appends)."""

    max_retries = 1

    def __init__(self, *sinks: Sink):
        self.sinks = sinks

    def write(self, df: DataFrame, batch_id: int) -> None:
        for sink in self.sinks:
            sink(df, batch_id)


def write_kafka(df: DataFrame, brokers: str, topic: str, key_col: str | None = None):
    """Kafka producer twin (reference kafka_produer/producer.py:51-76):
    serialize all columns as a JSON document into ``value`` and return
    a ready DataFrameWriter (batch input) or DataStreamWriter (streaming
    input) with brokers/topic pre-set — caller adds mode or
    trigger/checkpoint and fires it.  Requires the spark-sql-kafka
    package."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns if c != key_col]
    out = df.select(
        *( [F.col(key_col).cast("string").alias("key")] if key_col else [] ),
        F.to_json(F.struct(*cols)).alias("value"),
    )
    return out.write.format("kafka").option("kafka.bootstrap.servers", brokers).option(
        "topic", topic
    ) if not df.isStreaming else out.writeStream.format("kafka").option(
        "kafka.bootstrap.servers", brokers
    ).option("topic", topic)


class AnomalySink(Sink):
    """Streaming z-score alerting — the realized version of the
    reference README's promised "real-time anomaly detection"
    (README.md:123) that its code never implements.  Maintains Welford
    running mean/variance per key ACROSS micro-batches and records an
    alert when a batch value deviates ≥ ``threshold`` standard
    deviations from the history seen so far (scoring uses the stats
    BEFORE the batch, so a spike can't mask itself).

    Same staged-delta discipline as MetricsSink: everything that can
    raise happens before any state mutation, so the retry wrapper in
    Sink.__call__ never double-applies a batch.
    """

    def __init__(
        self,
        key_col: str,
        value_col: str,
        threshold: float = 3.0,
        min_history: int = 5,
    ):
        self.key_col = key_col
        self.value_col = value_col
        self.threshold = threshold
        self.min_history = min_history
        self.stats: dict[str, tuple[int, float, float]] = {}  # key -> (n, mean, M2)
        self.alerts: list[dict] = []

    def write(self, df: DataFrame, batch_id: int) -> None:
        staged = [(k, float(v)) for k, v in _batch_delta(df, self.key_col, self.value_col)]
        new_alerts = []
        new_stats = dict(self.stats)
        for key, value in staged:
            n, mean, m2 = new_stats.get(key, (0, 0.0, 0.0))
            if n >= self.min_history:
                var = m2 / (n - 1) if n > 1 else 0.0
                if var > 0:
                    z = (value - mean) / var**0.5
                    if abs(z) >= self.threshold:
                        new_alerts.append(
                            {"key": key, "batch_id": batch_id, "value": value, "zscore": z}
                        )
            # Welford update AFTER scoring against prior history
            n += 1
            delta = value - mean
            mean += delta / n
            m2 += delta * (value - mean)
            new_stats[key] = (n, mean, m2)
        # all-or-nothing apply
        self.stats = new_stats
        self.alerts.extend(new_alerts)


class RedisMetricsSink(Sink):
    """Redis-backed twin of MetricsSink — the reference's actual
    deployment shape (redis_connector.py:39-86: pipeline().incrby +
    time-series append + expire, one execute per batch).

    The client is INJECTED rather than constructed here: anything with
    redis-py's ``pipeline(transaction=...)`` / ``get`` surface works,
    so the sink is fully testable without a server (tests inject a
    fake) and a production deployment passes ``redis.Redis(...)``.
    Use ``from_url`` when redis-py is importable.

    Exactly-once discipline, two layers:
    1. The whole batch delta goes into ONE MULTI/EXEC pipeline
       (transaction=True): a transaction that fails before EXEC
       applies nothing, so the retry wrapper re-runs against clean
       state.
    2. A per-batch idempotency marker (``{prefix}:applied:{batch_id}``)
       is written INSIDE the same transaction and checked before
       applying.  This covers the EXEC-applied-but-reply-lost network
       failure (execute() raises AFTER Redis committed) and streaming
       batch REPLAY after checkpoint recovery — both would otherwise
       double-count.  Safe because foreachBatch delivers each batch_id
       from one thread at a time.

    **Sizing rule — ``marker_ttl_seconds`` must be ≥ the streaming
    query's checkpoint-replay horizon** (how far back a recovered
    query can re-deliver an old batch_id; in practice the checkpoint
    retention window).  A replayed batch whose marker has expired is
    indistinguishable from a new batch and WILL double-count.  The
    marker TTL is therefore decoupled from the metrics ``ttl_seconds``
    (which models data retention, e.g. the reference's 24 h) and
    defaults to ``max(ttl_seconds, 7 days)`` so that shrinking the
    metrics TTL can never silently shrink the replay-safety window.

    Driver-side by contract, like every metrics adapter: the input is
    the already-reduced per-key aggregate, never raw events."""

    #: default replay-safety window: 7 days, a conservative upper bound
    #: on Structured Streaming checkpoint retention in any deployment
    #: this sink targets.
    DEFAULT_MARKER_TTL_SECONDS = 7 * 86400

    def __init__(
        self,
        client,
        key_col: str,
        count_col: str,
        ttl_seconds: int | None = None,
        counter_prefix: str = "page_views",
        marker_ttl_seconds: int | None = None,
    ):
        from ..config import MetricsConfig

        if ttl_seconds is None:
            ttl_seconds = MetricsConfig().ttl_seconds
        if marker_ttl_seconds is None:
            marker_ttl_seconds = max(ttl_seconds, self.DEFAULT_MARKER_TTL_SECONDS)
        self.client = client
        self.key_col = key_col
        self.count_col = count_col
        self.ttl_seconds = ttl_seconds
        self.marker_ttl_seconds = marker_ttl_seconds
        self.counter_prefix = counter_prefix

    @classmethod
    def from_url(cls, url: str, key_col: str, count_col: str, **kwargs) -> "RedisMetricsSink":
        """Build from a redis:// URL — requires redis-py (not shipped
        in this sandbox; the injected-client path is always available)."""
        try:
            import redis
        except ImportError as exc:  # pragma: no cover - env-gated
            raise ImportError(
                "redis-py is required for RedisMetricsSink.from_url; "
                "construct with an injected client instead"
            ) from exc
        return cls(redis.Redis.from_url(url), key_col, count_col, **kwargs)

    def write(self, df: DataFrame, batch_id: int) -> None:
        marker = f"{self.counter_prefix}:applied:{batch_id}"
        if self.client.get(marker):
            return  # batch already committed (replay or lost EXEC reply)
        delta = [(k, int(v)) for k, v in _batch_delta(df, self.key_col, self.count_col)]
        now = time.time()
        pipe = self.client.pipeline(transaction=True)
        for key, cnt in delta:
            counter_key = f"{self.counter_prefix}:{key}"
            series_key = f"{self.counter_prefix}_ts:{key}"
            pipe.incrby(counter_key, cnt)
            pipe.zadd(series_key, {f"{now}:{cnt}": now})
            pipe.expire(counter_key, self.ttl_seconds)
            pipe.expire(series_key, self.ttl_seconds)
        # marker committed atomically WITH the data, on its own TTL:
        # marker_ttl_seconds ≥ the checkpoint-replay horizon (see class
        # docstring), independent of the metrics' data-retention TTL
        pipe.setex(marker, self.marker_ttl_seconds, 1)
        pipe.execute()


class MetricsSink(Sink):
    """Counter + time-series metrics sink — the defined semantics of
    the reference's undefined Redis pipeline API
    (stream_processor.py:377-391): per key, INCRBY a counter and
    append a (unix_ts, count) time-series point with a TTL.

    The default store is an in-process dict (tests); a Redis-backed
    store plugs in via the same three methods (increment /
    add_time_series / flush), batched like the reference's pipeline.
    """

    def __init__(self, key_col: str, count_col: str, ts_col: str | None = None, ttl_seconds: int | None = None):
        from ..config import MetricsConfig

        if ttl_seconds is None:
            ttl_seconds = MetricsConfig().ttl_seconds
        self.key_col = key_col
        self.count_col = count_col
        self.ts_col = ts_col
        self.ttl_seconds = ttl_seconds
        self.counters: dict[str, int] = defaultdict(int)
        self.series: dict[str, list[tuple[float, int]]] = defaultdict(list)

    def write(self, df: DataFrame, batch_id: int) -> None:
        # per-key batch totals like the reference (stream_processor.py:369);
        # _batch_delta stages the FULL mutation delta before touching
        # shared state: Sink.__call__ re-runs write() on failure, so a
        # half-applied row loop would double-count already-applied keys
        # on retry.  The apply loop below is pure dict mutation.
        delta = [(k, int(v)) for k, v in _batch_delta(df, self.key_col, self.count_col)]
        now = time.time()
        for key, cnt in delta:
            self.counters[f"page_views:{key}"] += cnt
            self.series[f"page_views_ts:{key}"].append((now, cnt))


class TrendingSink(Sink):
    """Exponentially-decayed trending counters — the live "top pages
    right now" primitive the reference's dashboard promises
    (README.md:139-146) where a plain running count would be dominated
    by all-time-popular keys.  Per key the sink maintains a count that
    decays with a configurable half-life between observations:

        score = old_score * 0.5^(dt / half_life) + batch_count

    so recent activity outweighs history, and an idle key's score
    halves every ``half_life_batches`` micro-batches (batch ids are
    the clock — monotone under Structured Streaming's contract, and
    replay-stable where wall-clock decay would double-decay on a
    checkpoint retry).

    Same staged-delta + copy-on-write discipline as MetricsSink /
    AnomalySink: staging collects (can raise) before any state
    mutation, then the new dict swaps in atomically, so the retry
    wrapper in ``Sink.__call__`` never double-applies a batch.
    ``top(k)`` reads are driver-side O(keys log k).
    """

    def __init__(self, key_col: str, count_col: str, half_life_batches: float = 10.0):
        if half_life_batches <= 0:
            raise ValueError(f"half_life_batches must be > 0, got {half_life_batches}")
        self.key_col = key_col
        self.count_col = count_col
        self.half_life = float(half_life_batches)
        # key -> (score, last_batch_id)
        self.scores: dict[str, tuple[float, int]] = {}
        self.last_batch: int | None = None

    def write(self, df: DataFrame, batch_id: int) -> None:
        staged = [(k, float(v)) for k, v in _batch_delta(df, self.key_col, self.count_col)]
        new_scores = dict(self.scores)
        for key, cnt in staged:
            score, last = new_scores.get(key, (0.0, batch_id))
            decay = 0.5 ** ((batch_id - last) / self.half_life)
            new_scores[key] = (score * decay + cnt, batch_id)
        self.scores = new_scores
        self.last_batch = batch_id if self.last_batch is None else max(self.last_batch, batch_id)

    def top(self, k: int = 10, as_of_batch: int | None = None) -> list[tuple[str, float]]:
        """Top-k keys by decayed score AS OF ``as_of_batch`` (default:
        the latest batch the sink has seen) — stored scores only decay
        at a key's next write, so ranking must decay idle keys forward
        or an all-time favorite that went quiet would dominate forever,
        the exact failure this sink exists to prevent."""
        import heapq

        if as_of_batch is None:
            as_of_batch = self.last_batch

        def current(key: str) -> float:
            score, last = self.scores[key]
            if as_of_batch is None:
                return score
            return score * 0.5 ** (max(0, as_of_batch - last) / self.half_life)

        return heapq.nlargest(
            k, ((key, current(key)) for key in self.scores), key=lambda kv: (kv[1], kv[0])
        )
