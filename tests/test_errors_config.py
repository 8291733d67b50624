"""O7 error taxonomy + O8 config parsing (reference
`RecordProcessorImpl.scala:126-148,214-221`, `Consumer.scala:113-187`,
`reference.conf:1-21`)."""

from __future__ import annotations

import datetime as dt

import pytest

from kinesis_stream_spark.checkpoint import CheckpointConfig
from kinesis_stream_spark.streaming.consumer import ConsumerConfig, InitialPosition
from kinesis_stream_spark.streaming.errors import (
    CheckpointTimeoutError,
    Disposition,
    KillSwitch,
    ShardShutdownError,
    ThrottlingError,
    abort_stream_on_error,
    checkpoint_with_taxonomy,
    classify,
)

# --- taxonomy ----------------------------------------------------------------


def test_classify_mirrors_reference_catch_block():
    assert classify(CheckpointTimeoutError("slow")) is Disposition.FAIL
    assert classify(ThrottlingError()) is Disposition.CONTINUE
    assert classify(ShardShutdownError()) is Disposition.STOP_SHARD
    assert classify(ValueError("anything else")) is Disposition.FAIL


def test_classify_foreign_exceptions_by_name():
    # SDK exception types classify by class name without importing the SDK
    ThrottlingException = type("ThrottlingException", (Exception,), {})
    ShutdownException = type("ShutdownException", (Exception,), {})
    KCLDep = type("KinesisClientLibDependencyException", (Exception,), {})
    assert classify(ThrottlingException()) is Disposition.CONTINUE
    assert classify(KCLDep()) is Disposition.CONTINUE
    assert classify(ShutdownException()) is Disposition.STOP_SHARD


def test_transient_logs_and_continues():
    # `RecordProcessorImpl.scala:135-139`: throttle/dependency swallow
    def boom():
        raise ThrottlingError("rate limited")

    assert checkpoint_with_taxonomy(boom, "shard-1") is True


def test_shutdown_stops_shard_only():
    # `RecordProcessorImpl.scala:141-143`: lease lost → stop THIS shard
    stopped = []

    def boom():
        raise ShardShutdownError("lease lost")

    keep = checkpoint_with_taxonomy(boom, "shard-7", on_stop_shard=stopped.append)
    assert keep is False and stopped == ["shard-7"]


def test_timeout_and_unknown_are_fatal():
    # `RecordProcessorImpl.scala:131-133,146-147`: rethrow
    with pytest.raises(CheckpointTimeoutError):
        checkpoint_with_taxonomy(
            lambda: (_ for _ in ()).throw(CheckpointTimeoutError()), "s"
        )
    with pytest.raises(RuntimeError):
        checkpoint_with_taxonomy(
            lambda: (_ for _ in ()).throw(RuntimeError("corrupt")), "s"
        )


def test_abort_stream_on_error_swallows_and_trips_killswitch():
    # `abortStreamOnError` (`RecordProcessorImpl.scala:214-221`)
    class FakeQuery:
        stopped = False

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    ks = KillSwitch(q)
    abort_stream_on_error("checkpointForShardEnd", ks, lambda: (_ for _ in ()).throw(ValueError("x")))
    assert ks.aborted and q.stopped
    first = ks.cause
    # idempotent: a second abort keeps the FIRST cause
    abort_stream_on_error("again", ks, lambda: (_ for _ in ()).throw(KeyError("y")))
    assert ks.cause is first


def test_termination_listener_reports_exception(spark, tmp_path):
    """StreamingQueryListener analog (`StreamScheduler.scala:29-44`): a
    failing query's terminating exception reaches the watch callback."""
    import time

    from kinesis_stream_spark.streaming.errors import make_termination_listener

    seen: list = []
    listener = make_termination_listener(seen.append)
    spark.streams.addListener(listener)
    try:
        df = spark.readStream.format("rate").option("rowsPerSecond", "1").load()

        def explode(batch_df, bid):
            raise RuntimeError("fatal-batch-error")

        q = (
            df.writeStream.foreachBatch(explode)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        with pytest.raises(Exception):
            q.awaitTermination(60)
        for _ in range(100):  # listener events deliver async
            if seen:
                break
            time.sleep(0.1)
        assert seen and "fatal-batch-error" in str(seen[0])
    finally:
        spark.streams.removeListener(listener)


# --- from_config -------------------------------------------------------------


def test_from_config_reference_keys_roundtrip():
    cfg = ConsumerConfig.from_config(
        {
            "stream-name": "/tmp/stream_in",
            "application-name": "test-app",
            "position": {"initial": "at-timestamp", "time": "2024-01-10T00:00:00"},
            "checkpoint": {
                "completion-timeout": "45s",
                "timeout": "10s",
                "max-buffer-size": 500,
                "max-duration": "2m",
            },
        }
    )
    assert cfg.stream_path == "/tmp/stream_in"
    assert cfg.app_name == "test-app"
    assert cfg.initial_position is InitialPosition.AT_TIMESTAMP
    assert cfg.position_timestamp == dt.datetime(2024, 1, 10)
    assert cfg.checkpoint == CheckpointConfig(
        max_buffer_size=500, max_duration_s=120.0, completion_timeout_s=45.0, timeout_s=10.0
    )


def test_from_config_defaults_match_reference():
    # `Consumer.scala:63-64,146-166` + `reference.conf` defaults
    cfg = ConsumerConfig.from_config(
        {"stream-name": "s", "application-name": "a"}
    )
    assert cfg.initial_position is InitialPosition.LATEST
    assert cfg.position_timestamp is None
    assert cfg.checkpoint == CheckpointConfig()
    assert cfg.checkpoint.completion_timeout_s == 30.0
    assert cfg.checkpoint.timeout_s == 20.0
    assert cfg.checkpoint.max_buffer_size == 10_000
    assert cfg.checkpoint.max_duration_s == 60.0


def test_from_config_flat_dotted_keys_and_ms_durations():
    cfg = ConsumerConfig.from_config(
        {
            "stream-name": "s",
            "application-name": "a",
            "position.initial": "trim-horizon",
            "checkpoint.timeout": "1500ms",
        }
    )
    assert cfg.initial_position is InitialPosition.TRIM_HORIZON
    assert cfg.checkpoint.timeout_s == 1.5


def test_from_file_toml_and_json(tmp_path):
    toml = tmp_path / "consumer.toml"
    toml.write_text(
        '"stream-name" = "/tmp/s"\n"application-name" = "app-t"\n'
        '[position]\ninitial = "trim-horizon"\n'
        '[checkpoint]\n"max-buffer-size" = 7\n'
    )
    cfg = ConsumerConfig.from_file(str(toml))
    assert cfg.app_name == "app-t"
    assert cfg.initial_position is InitialPosition.TRIM_HORIZON
    assert cfg.checkpoint.max_buffer_size == 7

    js = tmp_path / "consumer.json"
    js.write_text(
        '{"stream-name": "/tmp/s", "application-name": "app-j",'
        ' "checkpoint": {"timeout": "5s"}}'
    )
    cfg = ConsumerConfig.from_file(str(js))
    assert cfg.app_name == "app-j" and cfg.checkpoint.timeout_s == 5.0


def test_from_config_missing_required_and_bad_position():
    with pytest.raises(KeyError):
        ConsumerConfig.from_config({"application-name": "a"})
    with pytest.raises(ValueError):
        ConsumerConfig.from_config(
            {"stream-name": "s", "application-name": "a",
             "position": {"initial": "at-timestamp", "time": ""}}
        )


# --- HOCON (.conf) carrier ----------------------------------------------------

REFERENCE_CONF = '''
######################################
# Kinesis Stream Reference Config File #
######################################

example.consumer {
  application-name = "test-app" # name of the application (consumer group)
  stream-name = "test-stream" # name of the stream to connect to

  position {
    initial = "latest" # (latest, trim-horizon, at-timestamp). defaults to latest
    time = "" # Only set if position is at-timestamp.
  }

  checkpoint {
    completion-timeout = "30s" # wait for in-flight messages on shutdown
    timeout = "20s" # timeout for checkpoints to complete
    max-buffer-size = 10000 # records to process before checkpointing
    max-duration = "60s" # Max duration to wait between checkpoint calls
  }
}
'''


def test_from_file_hocon_reference_conf_roundtrip(tmp_path):
    """The reference's own reference.conf (same keys, values, comments,
    and `example.consumer` wrapper block — reference.conf:1-21) must
    load through from_file verbatim."""
    conf = tmp_path / "application.conf"
    conf.write_text(REFERENCE_CONF)
    cfg = ConsumerConfig.from_file(str(conf))
    assert cfg.app_name == "test-app"
    assert cfg.stream_path == "test-stream"
    assert cfg.initial_position is InitialPosition.LATEST
    assert cfg.checkpoint.completion_timeout_s == 30.0
    assert cfg.checkpoint.timeout_s == 20.0
    assert cfg.checkpoint.max_buffer_size == 10000
    assert cfg.checkpoint.max_duration_s == 60.0


def test_from_file_hocon_actual_reference_file():
    """If the reference checkout is present, its real config file parses
    (guards against inline-copy drift)."""
    import os

    path = "/root/reference/src/main/resources/reference.conf"
    if not os.path.exists(path):
        import pytest

        pytest.skip("reference checkout not present")
    cfg = ConsumerConfig.from_file(path)
    assert cfg.app_name == "test-app"
    assert cfg.stream_path == "test-stream"


def test_hocon_subset_features(tmp_path):
    conf = tmp_path / "c.conf"
    conf.write_text(
        '// line comment\n'
        'stream-name: "s#1"  # hash inside quotes survives\n'
        'application-name = app\n'
        'position { initial = "at-timestamp"\n'
        '  time = "2024-01-10T00:00:00" }\n'
        'checkpoint.max-buffer-size = 42\n'
        'max-files-per-trigger = 7\n'
    )
    cfg = ConsumerConfig.from_file(str(conf))
    assert cfg.stream_path == "s#1"
    assert cfg.app_name == "app"
    assert cfg.initial_position is InitialPosition.AT_TIMESTAMP
    assert cfg.position_timestamp is not None
    assert cfg.checkpoint.max_buffer_size == 42
    assert cfg.max_files_per_trigger == 7


def test_hocon_unbalanced_braces_raise(tmp_path):
    import pytest

    conf = tmp_path / "bad.conf"
    conf.write_text("a {\n b = 1\n")
    with pytest.raises(ValueError):
        ConsumerConfig.from_file(str(conf))


# --- KCL sub-config parity ----------------------------------------------------


def test_subconfig_builders_chain():
    cfg = (
        ConsumerConfig(stream_path="/s", app_name="a")
        .with_coordinator_config({"parent-shard-poll-interval": "1s"})
        .with_lease_management_config({"max-leases": 10})
        .with_metrics_config({"namespace": "app"})
        .with_retrieval_config({"mode": "polling"})
    )
    assert cfg.coordinator_config == {"parent-shard-poll-interval": "1s"}
    assert cfg.lease_management_config == {"max-leases": 10}
    assert cfg.metrics_config == {"namespace": "app"}
    assert cfg.retrieval_config == {"mode": "polling"}


def test_from_file_hocon_subconfig_sections(tmp_path):
    conf = tmp_path / "kcl.conf"
    conf.write_text(
        'stream-name = "s"\n'
        'application-name = "a"\n'
        "retrieval { mode = polling\n  max-records = 500 }\n"
        "lease-management { max-leases = 20 }\n"
    )
    cfg = ConsumerConfig.from_file(str(conf))
    assert cfg.retrieval_config == {"mode": "polling", "max-records": 500}
    assert cfg.lease_management_config == {"max-leases": 20}
    assert cfg.coordinator_config is None and cfg.metrics_config is None


def test_hocon_roundtrip_property():
    """Property: rendering an arbitrary nested config as HOCON and
    parsing it back is the identity (over the supported value types)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kinesis_stream_spark.streaming.consumer import _parse_hocon

    keys = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz-", min_size=1, max_size=12
    ).filter(lambda s: "--" not in s and not s.startswith("-") and not s.endswith("-"))
    scalars = st.one_of(
        st.integers(min_value=-10**9, max_value=10**9),
        st.booleans(),
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .:@+_/#",
            max_size=20,
        ),
    )
    configs = st.recursive(
        st.dictionaries(keys, scalars, min_size=1, max_size=4),
        lambda inner: st.dictionaries(
            keys, st.one_of(scalars, inner), min_size=1, max_size=4
        ),
        max_leaves=12,
    )

    def render(d: dict, indent: int = 0) -> str:
        out = []
        pad = "  " * indent
        for k, v in d.items():
            if isinstance(v, dict):
                out.append(f"{pad}{k} {{")
                out.append(render(v, indent + 1))
                out.append(pad + "}")
            elif isinstance(v, bool):
                out.append(f"{pad}{k} = {'true' if v else 'false'}")
            elif isinstance(v, int):
                out.append(f"{pad}{k} = {v}")
            else:
                out.append(f'{pad}{k} = "{v}"')
        return "\n".join(out)

    @settings(max_examples=200, deadline=None)
    @given(configs)
    def roundtrip(cfg):
        assert _parse_hocon(render(cfg)) == cfg

    roundtrip()
