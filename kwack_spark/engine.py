"""KwackSpark — the engine facade, mirroring the reference's lifecycle
(KwackEngine.java: configure -> init -> start/query) on a SparkSession.

Reference parity (SURVEY.md §3.3):
    engine = KwackSpark(config); engine.init(); engine.sql("SELECT ...")
maps kwack's  configure(KwackConfig) -> init() -> start()/Observable rows.

- ``init()`` resolves sources and registers one temp view per table/topic
  (KwackEngine.java:587-648's CREATE TABLE equivalent): parquet dirs, a
  persistent warehouse dir (the ``-d <db>`` equivalent,
  KwackConfig.java:448-454), and Kafka topics via sources/kafka.py.
- ``sql()`` delegates the query string verbatim to Spark SQL — exactly the
  reference's delegation posture (KwackEngine.java:232), with Catalyst in
  place of DuckDB.
- ``query_json()`` streams rows as JSON strings (KwackEngine.java:244-252's
  toJson surface; binary -> base64 matches Spark's JSON encoding).
- ``copy_to()`` implements the reference's documented `COPY <sql> TO <file>`
  usage (README.md:119-123) as df.write.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from kwack_spark.config import KwackConfig
from kwack_spark.schema.registry import MockSchemaRegistry, open_registry
from kwack_spark.session import get_session
from kwack_spark.sources.parquet import register_views

__all__ = ["KwackSpark", "KwackConfig"]


_COPY_RE = re.compile(
    r"^\s*COPY\s+\((?P<query>.+)\)\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s*\(\s*FORMAT\s+'?(?P<fmt>\w+)'?"
    r"(?:\s*,\s*PARTITION_BY\s+\(\s*(?P<partition_by>[\w\s,]+?)\s*\))?\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


class KwackSpark:
    def __init__(
        self,
        config: KwackConfig | None = None,
        spark: SparkSession | None = None,
        registry: MockSchemaRegistry | None = None,
    ):
        self.config = config or KwackConfig()
        self.spark = spark or get_session(extra_conf=self.config.spark_conf)
        self.registry = registry or open_registry(
            self.config.registry_url, self.config.client_props
        )
        self._initialized = False
        self._live_queries: dict[str, object] = {}

    # -- lifecycle ----------------------------------------------------------

    def init(self) -> "KwackSpark":
        """Resolve sources and register views (reference init(),
        KwackEngine.java:181-224)."""
        if self.config.parquet_dir:
            register_views(self.spark, self.config.parquet_dir)
        if self.config.warehouse_dir:
            self._load_warehouse()
        if self.config.kafka_bootstrap:
            from kwack_spark.session import register_view

            for topic in self.config.topics:
                register_view(self._topic_table(topic), topic)
        self._initialized = True
        return self

    def _load_warehouse(self) -> None:
        """Re-register every table persisted under warehouse_dir — the
        durable-db reopen path of `-d <db>` (KwackConfig.java:448-454)."""
        wd = self.config.warehouse_dir
        if not os.path.isdir(wd):
            os.makedirs(wd, exist_ok=True)
            return
        from kwack_spark.session import register_view

        for name in os.listdir(wd):
            path = os.path.join(wd, name)
            if os.path.isdir(path):
                register_view(self.spark.read.parquet(path), name)

    def persist_table(self, name: str, df: DataFrame | None = None) -> None:
        """Persist a registered view (or given DataFrame) into the warehouse
        and re-point the view at the durable copy."""
        if not self.config.warehouse_dir:
            raise ValueError("no warehouse_dir configured (the -d equivalent)")
        df = df if df is not None else self.spark.table(name)
        path = os.path.join(self.config.warehouse_dir, name)
        from kwack_spark.session import register_view

        df.write.mode("overwrite").parquet(path)
        register_view(self.spark.read.parquet(path), name)

    def register_live_topic(
        self,
        topic: str,
        value_serde=None,
        key_serde=None,
        frames_dir: str | None = None,
        durable_path: str | None = None,
        checkpoint: str | None = None,
    ):
        """Live-table mode: the reference keeps consuming in a background
        thread after init(), so an interactive session sees late records on
        re-query (SURVEY §1.1, KwackEngine.java:745-774 + background
        kcache thread).  Spark twin: a continuous Structured Streaming
        query maintains table ``<topic>`` through the SAME decode path as
        batch ingest — from readStream Kafka frames (production) or a
        frames directory (tests/replay).  Returns the StreamingQuery;
        callers sync with ``.processAllAvailable()`` and the engine stops
        it on ``stop()``.  A serde left as None comes from the config
        (``KwackConfig.value_serde`` / ``key_serde``), like a batch topic's.

        ``durable_path`` switches the sink from the in-memory table to the
        exactly-once parquet landing (streaming/sink.py): each micro-batch
        lands in a fresh, immutable directory under
        ``durable_path/_attempts/`` and commits by one atomic swap of
        ``durable_path/_kwack_manifest.json``; a replayed batch lands a new
        attempt and repoints its manifest entry.  The checkpoint
        (``checkpoint`` or ``<durable_path>/_checkpoint``) makes restarts
        resume instead of reprocess.  Table ``<topic>`` is a view over the
        manifest's committed attempt directories, re-registered after every
        commit, so it never shows a torn replay or a crash orphan — the
        production shape for sessions that outlive the driver.  Superseded
        attempts stay on disk until ``streaming.sink.vacuum_sink``.

        Either way the query fires one micro-batch every 250 ms
        (``streaming.trigger.LIVE_PROCESSING_TIME``), not Spark's ASAP
        loop.  A record is visible to ``sql()`` at most one interval plus
        one micro-batch's run time after it lands (when no earlier batch is
        still running).  An idle topic polls its source 4 times a second
        instead of about 100.  When a batch runs longer than the interval,
        the next one starts at once.  Starting a live topic raises one
        logger, Spark's ``ProcessingTimeExecutor`` ("Current batch is
        falling behind"), to ERROR in the driver JVM: for every streaming
        query in that JVM, and until it exits."""
        from kwack_spark.session import alias_view, register_view, safe_identifier
        from kwack_spark.sources.kafka import KAFKA_FRAME_SCHEMA
        from kwack_spark.streaming import ingest as si

        frames = (
            self.spark.readStream.schema(KAFKA_FRAME_SCHEMA).parquet(frames_dir)
            if frames_dir
            else None
        )
        decoded = self._topic_table(
            topic, streaming=True, frames=frames,
            value_serde=value_serde, key_serde=key_serde,
        )

        if durable_path is not None:
            from kwack_spark.streaming import sink as sk

            # pin the decoded schema: re-registration skips footer
            # inference, and an empty manifest still gives a typed table
            landed_schema = decoded.schema

            # a temp view over parquet paths snapshots them at registration,
            # so the view is RE-registered over the new manifest after every
            # commit (driver-side foreachBatch hook) — late records appear
            # on re-query exactly like the memory sink.  Registration lists
            # every committed attempt directory, so its cost grows with the
            # batch count; compact_sink writes a compacted copy elsewhere
            # and does not repoint a running topic.
            def _register_landed_view(_batch_id: int | None = None) -> None:
                register_view(
                    self.spark.read.schema(landed_schema).parquet(
                        *sk.committed_paths(durable_path)
                    ),
                    topic,
                )

            # register EAGERLY too: on a restart with no new input no batch
            # ever fires the hook, and an empty topic must still present an
            # (empty) queryable table
            _register_landed_view()

            q = sk.to_manifest_parquet_sink(
                decoded,
                durable_path,
                checkpoint or f"{durable_path}/_checkpoint",
                continuous=True,
                post_batch=_register_landed_view,
            )
            self._live_queries[topic] = q
            return q

        # memory-sink query names must be plain identifiers; dashed/dotted
        # topics get an internal sink name plus a backticked alias view
        sink = safe_identifier(topic)
        q = si.to_memory_sink(decoded, sink, continuous=True)
        if sink != topic:
            alias_view(self.spark, topic, sink)
        self._live_queries[topic] = q
        return q

    def _topic_table(
        self,
        topic: str,
        streaming: bool = False,
        frames: DataFrame | None = None,
        value_serde=None,
        key_serde=None,
    ) -> DataFrame:
        """The one topic -> table path (KwackEngine.java:745-774 consume +
        :516-585 serde dispatch): ``frames`` (default: the Kafka read of
        ``topic`` with this config's connection, partition and offset
        settings) decoded with the topic's serdes, registry, row
        attributes and skip bytes.  A serde left as None comes from the
        config (``KwackConfig.value_serde`` / ``key_serde``)."""
        from kwack_spark.sources.kafka import decode_topic, read_topic_frames

        if frames is None:
            frames = read_topic_frames(self.spark, self.config, topic, streaming=streaming)
        return decode_topic(
            frames,
            topic,
            value_serde or self.config.value_serde(topic),
            key_serde=key_serde or self.config.key_serde(topic),
            registry=self.registry,
            row_attributes=self.config.row_attributes,
            skip_bytes=self.config.skip_bytes,
        )

    # -- query surface -------------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """Run SQL verbatim (the reference's whole query surface,
        KwackEngine.java:232), plus a shim for DuckDB-style COPY ... TO."""
        m = _COPY_RE.match(query)
        if m:
            part = m["partition_by"]
            return self.copy_to(
                m["query"],
                m["path"],
                (m["fmt"] or "parquet").lower(),
                partition_by=[c.strip() for c in part.split(",")] if part else None,
            )
        return self.spark.sql(query)

    def query_json(self, query: str) -> Iterator[str]:
        """One JSON object per row, the reference's -q output mode
        (KwackMain.java:157-164)."""
        yield from self.sql(query).toJSON().toLocalIterator()

    def copy_to(
        self,
        query: str,
        path: str,
        fmt: str = "parquet",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """DuckDB-style COPY ... TO, extended with Hive-style partitioned
        layout (PARTITION_BY) — how a curation pipeline writes its output at
        scale: one directory per split/lang so downstream readers prune."""
        df = self.spark.sql(query)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt in ("parquet",):
            writer.parquet(path)
        elif fmt in ("csv",):
            writer.option("header", "true").csv(path)
        elif fmt in ("json",):
            writer.json(path)
        else:
            raise ValueError(f"unsupported COPY format: {fmt}")
        return df

    def repl(self, input_fn=None, print_fn=print) -> None:
        """sqlline-equivalent interactive loop (KwackApplication.java:9-35):
        persistent readline history (~/.kwack_spark_history), multi-line
        statements terminated by ';', and the sqlline bang-commands the
        reference ships — !tables, !columns <t>, !history, !help, !q.
        ``input_fn``/``print_fn`` are injectable so the loop is testable."""
        history_path = None
        if input_fn is None:
            input_fn = input
            try:  # arrow-key history + editing when running on a real tty
                import atexit
                import os as _os
                import readline

                history_path = _os.path.expanduser("~/.kwack_spark_history")
                try:
                    readline.read_history_file(history_path)
                except OSError:
                    pass
                readline.set_history_length(1000)
                atexit.register(readline.write_history_file, history_path)
            except ImportError:  # pragma: no cover - no readline on platform
                pass

        history: list[str] = []
        buf: list[str] = []
        while True:
            try:
                prompt = "kwack-spark> " if not buf else "         ..> "
                line = input_fn(prompt)
            except (EOFError, KeyboardInterrupt):
                break
            if line is None:
                break
            line = line.strip()
            if not line:
                continue
            if not buf and line.startswith("!"):
                if self._bang(line, history, print_fn):
                    break
                continue
            if not buf and line.lower() in ("exit", "quit"):
                break
            buf.append(line)
            if not line.endswith(";"):
                continue  # keep reading the multi-line statement
            stmt = " ".join(buf).rstrip(";").strip()
            buf = []
            history.append(stmt)
            try:
                self.sql(stmt).show(100, truncate=120)
            except Exception as exc:  # surface, keep REPL alive
                print_fn(f"error: {exc}")

    def _bang(self, line: str, history: list[str], print_fn) -> bool:
        """sqlline !commands; returns True to exit the loop."""
        cmd, _, arg = line.partition(" ")
        cmd, arg = cmd.lower(), arg.strip()
        if cmd in ("!q", "!quit", "!exit"):
            return True
        if cmd == "!tables":
            for r in self.spark.catalog.listTables():
                print_fn(r.name)
        elif cmd == "!columns" and arg:
            try:
                for f in self.spark.table(arg).schema.fields:
                    print_fn(f"{f.name}\t{f.dataType.simpleString()}")
            except Exception as exc:
                print_fn(f"error: {exc}")
        elif cmd == "!history":
            for i, h in enumerate(history, 1):
                print_fn(f"{i}: {h}")
        elif cmd == "!help":
            print_fn(
                "statements end with ';' (multi-line ok) — "
                "!tables !columns <t> !history !help !q"
            )
        else:
            print_fn(f"unknown command: {cmd} (try !help)")
        return False

    def stop(self) -> None:
        for q in self._live_queries.values():
            try:
                q.stop()
            except Exception:  # already terminated
                pass
        self._live_queries.clear()
        self.spark.stop()
