"""Declarative config parity (reference config.go:13-42): one JSON file
carries the whole deployment surface — sources, sinks, mode, daemon
behavior, backoff timings, watchdog ceiling, stats port — and the
pipeline runs from it end-to-end (round-3 verdict item 8: these knobs
were CLI-only)."""

import json
import os
import urllib.request

import pytest

from scones.config import PipelineConfig
from scones.corpus import write_corpus, write_host_meta
from scones.pipeline import run_from_config

MODES = ("documents", "warc", "jsonl", "tail")


def test_operational_knobs_roundtrip_json(tmp_path):
    cfg = PipelineConfig(
        input_glob="/x/*.parquet",
        output_dir="/y",
        checkpoint_dir="/z",
        mode="jsonl",
        daemon=True,
        retry_min_sec=0.025,
        retry_max_sec=2.5,
        poll_min_sec=0.5,
        poll_max_sec=20.0,
        snapshot_timeout_sec=600.0,
        stats_port=8099,
        static_fields={"deployment": "prod"},
    )
    p = str(tmp_path / "cfg.json")
    cfg.to_json(p)
    assert PipelineConfig.from_json(p) == cfg
    # the file is plain declarative JSON an operator can diff/review
    raw = json.load(open(p))
    assert raw["mode"] == "jsonl" and raw["snapshot_timeout_sec"] == 600.0


def test_mode_dispatch_covers_all_formats():
    """Every mode has a source; an unknown mode raises ValueError."""
    from scones.pipeline import DocsSource, source_for
    from scones.tailsource import TailSource

    for mode in ("documents", "warc", "jsonl"):
        assert isinstance(source_for(mode), DocsSource)
    assert isinstance(source_for("tail"), TailSource)
    with pytest.raises(ValueError, match="unknown pipeline mode"):
        source_for("nope")
    cfg = PipelineConfig(
        input_glob="/x", output_dir="/y", checkpoint_dir="/z", mode="nope"
    )
    with pytest.raises(ValueError, match="unknown pipeline mode"):
        run_from_config(None, cfg)


def test_config_driven_daemon_end_to_end(spark, tmp_path):
    """A config file alone drives a daemon run: snapshot committed, idle
    polls use the CONFIG's backoff minimum (not the built-in default),
    and the CONFIG-requested stats endpoint serves live state."""
    write_corpus(str(tmp_path / "in"), n_docs=30, n_files=2, seed=61)
    meta = str(tmp_path / "host_meta.parquet")
    write_host_meta(meta)
    cfg_path = str(tmp_path / "cfg.json")
    PipelineConfig(
        input_glob=str(tmp_path / "in" / "*.parquet"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        host_meta_path=meta,
        n_sinks=2,
        mode="documents",
        daemon=True,
        poll_min_sec=0.125,  # non-default: proves the config is honored
        stats_port=0,  # ephemeral
    ).to_json(cfg_path)

    cfg = PipelineConfig.from_json(cfg_path)
    sleeps, events = [], []
    summaries, srv = run_from_config(
        spark,
        cfg,
        on_event=events.append,
        max_iterations=3,
        sleep_fn=sleeps.append,  # capture idle-poll delays
    )
    try:
        assert len(summaries) == 1 and summaries[0]["rows"] == 30
        # iterations 2-3 idle-poll at the config's minimum, doubling
        assert sleeps == [0.125, 0.25]
        assert srv is not None
        url = [e for e in events if e["event"] == "stats_endpoint"][0]["url"]
        payload = json.loads(urllib.request.urlopen(url, timeout=10).read())
        assert payload["backlog"]["rows_committed"] == 30
        assert sum(s["rows_sent"] for s in payload["sinks"].values()) == 30
    finally:
        if srv is not None:
            srv.stop()
    out = spark.read.parquet(os.path.join(str(tmp_path / "out"), "snapshot_id=1"))
    assert out.count() == 30


def test_lm_model_path_scoring_hook(spark, tmp_path):
    """lm_model_path set -> each snapshot writes a per-doc perplexity
    side table scored against the PERSISTED model; unset -> no table,
    no summary keys."""
    from scones.config import PipelineConfig
    from scones.corpus import write_corpus
    from scones.pipeline import run_snapshot
    from scones.textops import save_lm, train_lm

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        ["doc_id", "text"],
    )
    model_dir = str(tmp_path / "model")
    save_lm(train_lm(ref), model_dir)

    write_corpus(str(tmp_path / "in"), n_docs=20, n_files=1, seed=13)
    cfg = PipelineConfig(
        input_glob=f"{tmp_path}/in/*.parquet",
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=2,
        lm_model_path=model_dir,
    )
    s1 = run_snapshot(spark, cfg)
    assert s1["n_scored"] == s1["rows"]
    scores = spark.read.parquet(s1["lm_scores"])
    assert set(scores.columns) == {"doc_id", "n_bigrams", "bits_per_bigram"}
    assert scores.where("bits_per_bigram > 0").count() > 0

    cfg2 = PipelineConfig(
        input_glob=f"{tmp_path}/in/*.parquet",
        output_dir=str(tmp_path / "out2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        n_sinks=2,
    )
    s2 = run_snapshot(spark, cfg2)
    assert "lm_scores" not in s2 and "n_scored" not in s2


KNOBS = (
    "static_fields",
    "spread_partitions",
    "dedup_index",
    "lm_model_path",
    "host_meta_path",
    "reserved_static_field",
)
TAIL_REFUSED = ("spread_partitions", "dedup_index", "lm_model_path", "host_meta_path")


@pytest.fixture(scope="module")
def lm_model(spark, tmp_path_factory):
    from scones.textops import save_lm, train_lm

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        ["doc_id", "text"],
    )
    model_dir = str(tmp_path_factory.mktemp("lm") / "model")
    save_lm(train_lm(ref), model_dir)
    return model_dir


def _write_mode_inputs(mode: str, in_dir) -> str:
    """12 documents (or 12 log lines) in two files; returns the input glob."""
    import base64

    from scones.corpus import generate_rows
    from scones.jsonl import write_jsonl
    from scones.warc import write_warc

    in_dir.mkdir()
    if mode == "documents":
        write_corpus(str(in_dir), n_docs=12, n_files=2, seed=71)
        return str(in_dir / "*.parquet")
    if mode == "tail":
        for f in range(2):
            (in_dir / f"app{f}.log").write_bytes(
                b"".join(f"app{f} line {i}\n".encode() for i in range(6))
            )
        return str(in_dir / "*.log")
    rows = generate_rows(12, seed=71)
    for f, chunk in enumerate((rows[:6], rows[6:])):
        if mode == "warc":
            write_warc(str(in_dir / f"s{f}.warc.gz"), chunk, gzip_members=True)
        else:
            recs = [
                {
                    "url": r["url"],
                    "ts": r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "lang": r["lang"],
                    "html_b64": base64.b64encode(r["html"]).decode(),
                }
                for r in chunk
            ]
            write_jsonl(str(in_dir / f"s{f}.jsonl"), recs)
    return str(in_dir / ("*.warc.gz" if mode == "warc" else "*.jsonl"))


@pytest.mark.parametrize("knob", KNOBS)
@pytest.mark.parametrize("mode", MODES)
def test_every_knob_takes_effect_or_is_refused(
    spark, tmp_path, lm_model, monkeypatch, mode, knob
):
    """Each config knob behaves the same in every mode that can honour it,
    and is refused before any side effect where it cannot."""
    from pyspark.sql.readwriter import DataFrameWriter

    value = {
        "static_fields": {"env": "prod", "host": "forced-host"},
        "spread_partitions": 2,
        "dedup_index": True,
        "lm_model_path": lm_model,
        "host_meta_path": str(tmp_path / "host_meta.parquet"),
        # a static field must not overwrite what the audit and routing read
        "reserved_static_field": {"hwm" if mode == "tail" else "src_file": "x"},
    }[knob]
    if knob == "host_meta_path":
        write_host_meta(value)
    cfg = PipelineConfig(
        input_glob=_write_mode_inputs(mode, tmp_path / "in"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_sinks=2,
        mode=mode,
        **{"static_fields" if knob == "reserved_static_field" else knob: value},
    )
    if knob == "reserved_static_field" or (mode == "tail" and knob in TAIL_REFUSED):
        name = next(iter(value)) if knob == "reserved_static_field" else knob
        with pytest.raises(ValueError, match=f"{name}.*{mode}"):
            run_from_config(spark, cfg)
        assert not os.path.exists(cfg.checkpoint_dir)
        return

    plans = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    (s,), _ = run_from_config(spark, cfg)
    assert s["snapshot_id"] == 1 and s["rows"] == 12
    out = spark.read.parquet(s["output"])
    if knob == "static_fields":
        got = out.select("env", "host").distinct().collect()
        assert [(r.env, r.host) for r in got] == [("prod", "forced-host")]
    elif knob == "spread_partitions":
        assert "RepartitionByExpression" in plans[0]
        assert out.count() == 12
    elif knob == "dedup_index":
        assert "n_near_dup_pairs" in s
        assert (tmp_path / "ckpt" / "band_index" / "snapshot_id=1").is_dir()
    elif knob == "lm_model_path":
        assert s["n_scored"] == 12
    elif knob == "host_meta_path":
        assert out.where("host_category IS NOT NULL").count() > 0


def test_config_error_fails_once_not_per_daemon_retry(tmp_path):
    """A knob the mode cannot honour raises before the daemon loop, which
    would otherwise retry it forever."""
    cfg = PipelineConfig(
        input_glob=str(tmp_path / "*.log"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode="tail",
        dedup_index=True,
        daemon=True,
    )
    events = []
    with pytest.raises(ValueError, match="dedup_index.*tail"):
        run_from_config(
            None, cfg, on_event=events.append, max_iterations=2, sleep_fn=lambda _: None
        )
    assert events == [] and not os.path.exists(cfg.checkpoint_dir)
