"""Consumer config + stream source (reference O1/O5/O8).

`Consumer.scala:50-52` — ``source(streamName, appName)`` materializes a
backpressured stream of Records merged across the worker's shards. The Spark
analog is ``spark.readStream`` with the envelope schema: one source partition
per shard, per-partition order = per-shard order, admission control
(micro-batch rate limits) = the reference's blocking-queue backpressure
(`RecordProcessorImpl.scala:64`).

The test transport is a parquet-directory file source (the container has no
Kinesis). The config surface mirrors `ConsumerConfig` (`Consumer.scala:55-90`)
where it translates; AWS-client plumbing does not (non-goal per SURVEY §7).
"""

from __future__ import annotations

import datetime as dt
import enum
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_stream_spark.checkpoint import CheckpointConfig
from kinesis_stream_spark.streaming.envelope import RECORD_SCHEMA


class InitialPosition(enum.Enum):
    """Where a NEW app starts reading (`Consumer.scala:125-143`,
    `reference.conf:10`; default latest `Consumer.scala:63-64`)."""

    LATEST = "latest"
    TRIM_HORIZON = "trim-horizon"
    AT_TIMESTAMP = "at-timestamp"


@dataclass
class ConsumerConfig:
    """Mirror of the reference's `ConsumerConfig` (`Consumer.scala:55-90`).

    ``stream_path`` is the transport location (a directory of envelope
    parquet for the file transport; a Kinesis stream name on a real
    connector). ``app_name`` names the checkpoint root — exactly the
    reference's "DynamoDB table named after the application"
    (`README.md:116-118`), except the durable store is Spark's offset +
    commit log under ``checkpoint_root/app_name``.
    """

    stream_path: str
    app_name: str
    checkpoint_root: str = "/tmp/kinesis_stream_spark_checkpoints"
    initial_position: InitialPosition = InitialPosition.LATEST
    position_timestamp: dt.datetime | None = None
    checkpoint: CheckpointConfig = field(default_factory=CheckpointConfig)
    worker_id: str = field(default_factory=lambda: str(uuid.uuid4()))
    max_files_per_trigger: int | None = None  # admission control (O3 backpressure)
    # KCL sub-config parity (`Consumer.scala:65-68,81-90`): the reference
    # carries optional coordinator / lease-management / metrics / retrieval
    # configs through to the scheduler untouched. Here they are opaque
    # dicts a real-connector adapter maps onto its options (e.g.
    # spark-sql-kinesis or Kafka reader configs); the file transport
    # ignores them, exactly as the reference ignores them until KCL
    # consumes them.
    coordinator_config: dict | None = None
    lease_management_config: dict | None = None
    metrics_config: dict | None = None
    retrieval_config: dict | None = None

    def with_initial_position(
        self, position: InitialPosition, at: dt.datetime | None = None
    ) -> "ConsumerConfig":
        """Builder parity with `withInitialStreamPosition` (`Consumer.scala:71-79`)."""
        self.initial_position = position
        self.position_timestamp = at
        return self

    def with_coordinator_config(self, config: dict) -> "ConsumerConfig":
        """`withCoordinatorConfig` parity (`Consumer.scala:81-82`)."""
        self.coordinator_config = config
        return self

    def with_lease_management_config(self, config: dict) -> "ConsumerConfig":
        """`withLeaseManagementConfig` parity (`Consumer.scala:84-85`)."""
        self.lease_management_config = config
        return self

    def with_metrics_config(self, config: dict) -> "ConsumerConfig":
        """`withMetricsConfig` parity (`Consumer.scala:87`)."""
        self.metrics_config = config
        return self

    def with_retrieval_config(self, config: dict) -> "ConsumerConfig":
        """`withRetrievalConfig` parity (`Consumer.scala:89`)."""
        self.retrieval_config = config
        return self

    @property
    def checkpoint_location(self) -> str:
        return f"{self.checkpoint_root}/{self.app_name}"

    @classmethod
    def from_config(cls, config: dict) -> "ConsumerConfig":
        """`ConsumerConfig.fromConfig` parity (`Consumer.scala:113-187`).

        Accepts the reference's key names and defaults
        (`reference.conf:1-21`), as a nested dict (the HOCON shape) or
        flat dotted keys::

            ConsumerConfig.from_config({
                "stream-name": "/data/stream_in",
                "application-name": "my-app",
                "position": {"initial": "at-timestamp",
                             "time": "2024-01-10T00:00:00"},
                "checkpoint": {"completion-timeout": "30s",
                               "timeout": "20s",
                               "max-buffer-size": 10000,
                               "max-duration": "60s"},
            })

        Durations accept the HOCON forms the reference file uses
        ("30s", "500ms", "2m") or bare numbers (seconds). Missing keys
        take the reference defaults: position latest
        (`Consumer.scala:63-64`), completion-timeout 30s, timeout 20s,
        max-buffer-size 10000, max-duration 60s (`Consumer.scala:146-166`).
        """
        cfg = _flatten(config)
        # Re-root a wrapped config (the reference ships its keys under an
        # `example.consumer { … }` block): if the required keys are not at
        # the top level but live under exactly one nested prefix, descend.
        if "stream-name" not in cfg:
            suffix = ".stream-name"
            prefixes = {k[: -len(suffix)] for k in cfg if k.endswith(suffix)}
            if len(prefixes) == 1:
                prefix = prefixes.pop() + "."
                cfg = {
                    k[len(prefix):]: v for k, v in cfg.items() if k.startswith(prefix)
                }

        def need(key: str):
            if key not in cfg:
                raise KeyError(f"missing required config key: {key!r}")
            return cfg[key]

        position = InitialPosition(str(cfg.get("position.initial", "latest")))
        at = None
        if position is InitialPosition.AT_TIMESTAMP:
            raw = cfg.get("position.time") or ""
            if not str(raw).strip():
                raise ValueError("position.initial=at-timestamp requires position.time")
            at = raw if isinstance(raw, dt.datetime) else dt.datetime.fromisoformat(str(raw))

        checkpoint = CheckpointConfig(
            completion_timeout_s=_duration_s(cfg.get("checkpoint.completion-timeout", 30.0)),
            timeout_s=_duration_s(cfg.get("checkpoint.timeout", 20.0)),
            max_buffer_size=int(cfg.get("checkpoint.max-buffer-size", 10_000)),
            max_duration_s=_duration_s(cfg.get("checkpoint.max-duration", 60.0)),
        )
        out = cls(
            stream_path=str(need("stream-name")),
            app_name=str(need("application-name")),
            checkpoint=checkpoint,
        )
        if "checkpoint-root" in cfg:  # Spark-side extension, not in reference.conf
            out.checkpoint_root = str(cfg["checkpoint-root"])
        if "max-files-per-trigger" in cfg:  # O3 admission control knob
            out.max_files_per_trigger = int(cfg["max-files-per-trigger"])
        # optional KCL sub-config sections, retained opaquely
        # (`Consumer.scala:65-68`; names follow the case-class fields)
        for section, attr in (
            ("coordinator", "coordinator_config"),
            ("lease-management", "lease_management_config"),
            ("metrics", "metrics_config"),
            ("retrieval", "retrieval_config"),
        ):
            sub = {
                k[len(section) + 1 :]: v
                for k, v in cfg.items()
                if k.startswith(section + ".")
            }
            if sub:
                setattr(out, attr, sub)
        return out.with_initial_position(position, at)

    @classmethod
    def from_file(cls, path: str) -> "ConsumerConfig":
        """Load :meth:`from_config` input from a HOCON (``.conf``), TOML
        (``.toml``), or JSON (anything else) file — same keys, same
        defaults in every carrier (quote the dashed keys in TOML).

        The HOCON support covers exactly the subset the reference's own
        config file exercises (`reference.conf:1-21`): nested blocks,
        ``key = value`` with quoted strings / numbers / durations, and
        comments — so the reference's reference.conf loads verbatim.
        Includes/substitutions/arrays are out of scope; use JSON/TOML
        for anything richer."""
        if path.endswith(".toml"):
            import tomllib

            with open(path, "rb") as fh:
                return cls.from_config(tomllib.load(fh))
        if path.endswith(".conf"):
            with open(path) as fh:
                return cls.from_config(_parse_hocon(fh.read()))
        import json

        with open(path) as fh:
            return cls.from_config(json.load(fh))


def _parse_hocon(text: str) -> dict:
    """Parse the HOCON subset the reference's `reference.conf:1-21`
    uses: nested ``name { … }`` blocks (dotted block names allowed),
    ``key = value`` / ``key: value`` with quoted strings, bare numbers,
    booleans, and duration strings, plus ``#``/``//`` comments. NOT
    general HOCON — no includes, substitutions, arrays, concatenation,
    or multiline strings (JSON/TOML are the carriers for those)."""
    root: dict = {}
    stack: list[dict] = [root]

    def assign(stmt: str, lineno: int) -> None:
        key, sep, value = stmt.partition("=")
        if not sep:
            key, sep, value = stmt.partition(":")
        if not sep:
            raise ValueError(f"line {lineno}: unparseable HOCON statement {stmt!r}")
        node = stack[-1]
        parts = key.strip().strip('"').split(".")
        for part in parts[:-1]:
            node = node.setdefault(part, {})
        node[parts[-1]] = _hocon_value(value.strip())

    for lineno, raw in enumerate(text.splitlines(), 1):
        # split the comment-stripped line into brace tokens and statement
        # text (braces never appear inside this subset's quoted values,
        # which hold names/durations/timestamps)
        for token in _hocon_tokens(_strip_hocon_comment(raw)):
            if token == "{":
                raise ValueError(f"line {lineno}: block without a name")
            if token == "}":
                if len(stack) == 1:
                    raise ValueError(f"line {lineno}: unbalanced '}}'")
                stack.pop()
            elif token.endswith("{"):
                node = stack[-1]
                for part in token[:-1].strip().strip('"').split("."):
                    nxt = node.setdefault(part, {})
                    if not isinstance(nxt, dict):
                        raise ValueError(
                            f"line {lineno}: {part!r} is both value and block"
                        )
                    node = nxt
                stack.append(node)
            else:
                assign(token, lineno)
    if len(stack) != 1:
        raise ValueError("unbalanced '{' at end of HOCON input")
    return root


def _hocon_tokens(line: str):
    """Split one comment-free line into statements and brace tokens:
    ``'position { initial = "x" }'`` → ``['position {', 'initial = "x"',
    '}']``. A ``{`` binds to the preceding name; ``}`` stands alone."""
    out: list[str] = []
    buf = ""
    in_quote = False
    for c in line:
        if c == '"':
            in_quote = not in_quote
            buf += c
        elif c == "{" and not in_quote:
            out.append(buf.strip() + " {" if buf.strip() else "{")
            buf = ""
        elif c == "}" and not in_quote:
            if buf.strip():
                out.append(buf.strip())
            out.append("}")
            buf = ""
        else:
            buf += c
    if buf.strip():
        out.append(buf.strip())
    return out


def _strip_hocon_comment(line: str) -> str:
    """Cut ``#`` / ``//`` comments, respecting double-quoted spans."""
    in_quote = False
    i = 0
    while i < len(line):
        c = line[i]
        if c == '"':
            in_quote = not in_quote
        elif not in_quote and (c == "#" or line[i : i + 2] == "//"):
            return line[:i]
        i += 1
    return line


def _hocon_value(token: str):
    if len(token) >= 2 and token[0] == '"' and token[-1] == '"':
        return token[1:-1]
    low = token.lower()
    if low in ("true", "yes", "on"):
        return True
    if low in ("false", "no", "off"):
        return False
    try:
        return int(token)
    except ValueError:
        pass
    try:
        return float(token)
    except ValueError:
        pass
    return token  # bare string (durations like 30s land here)


def _flatten(config: dict, prefix: str = "") -> dict:
    """Nested dicts → dotted keys (HOCON `a { b = 1 }` ≡ `a.b = 1`)."""
    flat: dict = {}
    for k, v in config.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict):
            flat.update(_flatten(v, f"{key}."))
        else:
            flat[key] = v
    return flat


_DURATION_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_s(value) -> float:
    """"30s" / "500ms" / "2m" / 45 → seconds (HOCON duration subset the
    reference config file actually uses)."""
    if isinstance(value, (int, float)):
        return float(value)
    text = str(value).strip()
    for suffix in ("ms", "s", "m", "h"):  # "ms" first: it ends with "s" too
        if text.endswith(suffix):
            return float(text[: -len(suffix)]) * _DURATION_UNITS[suffix]
    return float(text)


def write_durably(path: str, text: str) -> None:
    """Write ``text`` to ``path`` and fsync the file and its directory
    entry, so the write survives a crash once this returns."""
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    dir_fd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


def _is_restart(checkpoint_location: str) -> bool:
    """Whether a start at ``checkpoint_location`` resumes an app rather
    than begins a new one: Spark's offset log there has an entry. Spark
    writes a batch's offset entry before the batch runs, so every app
    that began a batch has one; a deleted or fresh checkpoint does not.
    State kept next to the checkpoint counts only on a restart."""
    offsets = os.path.join(checkpoint_location, "offsets")
    return os.path.isdir(offsets) and bool(os.listdir(offsets))


def _latest_cutoff(checkpoint_location: str) -> dt.datetime:
    """The LATEST cutoff of the app at ``checkpoint_location``: the time
    of its first start, persisted next to the checkpoint and reused on
    a restart (:func:`_is_restart`) — a new app gets a new cutoff."""
    path = checkpoint_location + "_latest_cutoff"
    if os.path.exists(path) and _is_restart(checkpoint_location):
        with open(path) as f:
            return dt.datetime.fromisoformat(f.read())
    cutoff = dt.datetime.now(dt.timezone.utc)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_durably(path, cutoff.isoformat())
    return cutoff


def source(spark: SparkSession, config: ConsumerConfig) -> DataFrame:
    """Streaming source of envelope Records (reference O1).

    Initial-position semantics on the file transport:

    - TRIM_HORIZON: read the stream from the beginning (full directory).
    - AT_TIMESTAMP: skip records whose arrival timestamp predates
      ``position_timestamp`` (`Consumer.scala:79`, at-timestamp parse
      `:135-141`).
    - LATEST: skip records that arrived before the app's first start —
      files already in the directory are "the past" for a stream that
      begins at latest. The first start's time is persisted next to
      ``config.checkpoint_location`` and reused on every restart, so
      records that arrive while the app is down are still delivered.

    Position only applies to a NEW app (no checkpoint yet); on restart
    Spark resumes from the offset log, same as KCL resuming from DynamoDB.
    """
    reader = spark.readStream.schema(RECORD_SCHEMA).format("parquet")
    if config.max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(config.max_files_per_trigger))
    records = reader.load(config.stream_path)

    if config.initial_position is InitialPosition.AT_TIMESTAMP:
        if config.position_timestamp is None:
            raise ValueError("AT_TIMESTAMP requires position_timestamp")
        records = records.where(
            F.col("approximateArrivalTimestamp") >= F.lit(config.position_timestamp)
        )
    elif config.initial_position is InitialPosition.LATEST:
        cutoff = _latest_cutoff(config.checkpoint_location)
        records = records.where(F.col("approximateArrivalTimestamp") >= F.lit(cutoff))
    return records
