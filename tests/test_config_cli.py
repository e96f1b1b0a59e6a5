"""Config compiler + CLI end-to-end (the shovel --pipeline analog)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from shovel_spark.config import PipelineSpec
from shovel_spark.synth import synth_pages

SPEC_YAML = """
name: demo
input: {{ path: {input_path} }}
parser: native
buckets: 8
out_dir: ${{DEMO_OUT:{out_dir}}}
lang_map: {{ en: en, en-US: en, fr: fr, FR: fr, de: de }}
domain_rules:
  - {{ domain: spam.badsite.biz, action: deny }}
  - {{ domain: evil.badsite.biz, action: deny }}
  - {{ domain: news.example.com, action: allow, sink: hot }}
sinks:
  - {{ name: hot, predicate: "rule_sink = 'hot'" }}
  - {{ name: english, predicate: "lang_norm = 'en'" }}
  - {{ name: european, predicate: "lang_norm in ('fr','de')" }}
"""


def test_spec_validation_errors():
    with pytest.raises(ValueError, match="out_dir"):
        PipelineSpec.from_dict({"name": "x"})
    with pytest.raises(ValueError, match="parser"):
        PipelineSpec.from_dict({"out_dir": "/tmp/x", "parser": "bogus"})
    with pytest.raises(ValueError, match="duplicate sink"):
        PipelineSpec.from_dict(
            {
                "out_dir": "/tmp/x",
                "sinks": [
                    {"name": "a", "predicate": "1=1"},
                    {"name": "a", "predicate": "2=2"},
                ],
            }
        )
    with pytest.raises(ValueError, match="action"):
        PipelineSpec.from_dict({"out_dir": "/tmp/x", "domain_rules": [{"domain": "d", "action": "zap"}]})


def test_env_substitution(monkeypatch):
    monkeypatch.setenv("MY_OUT", "/tmp/from_env")
    spec = PipelineSpec.from_dict({"out_dir": "${MY_OUT:/tmp/default}"})
    assert spec.out_dir == "/tmp/from_env"
    monkeypatch.delenv("MY_OUT")
    spec = PipelineSpec.from_dict({"out_dir": "${MY_OUT:/tmp/default}"})
    assert spec.out_dir == "/tmp/default"


def test_cli_end_to_end(spark, tmp_path):
    """Run the CLI as a subprocess — the real user surface — twice:
    crash-limited (--max-buckets) then resume; totals must cover all rows."""
    input_path = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    synth_pages(spark, 1500, seed=31).write.parquet(input_path)
    spec_path = tmp_path / "job.yaml"
    spec_path.write_text(SPEC_YAML.format(input_path=input_path, out_dir=out_dir))

    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}

    def run(*extra):
        cmd = [sys.executable, "-m", "shovel_spark.cli", "--pipeline", str(spec_path),
               "--master", "local[2]", "--shuffle-partitions", "2", *extra]
        out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=300)
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    first = run("--max-buckets", "3")
    assert first["processed_buckets"] == 3
    second = run()
    assert second["skipped_buckets"] == 3
    assert second["totals"]["in_rows"] == 1500
    t = second["totals"]
    assert t["acked"] + t["ignored"] + t["rejected"] == 1500

    # a sink left in the bucket-partitioned layout blocks a resume; --fresh
    # starts the out dir over
    os.makedirs(os.path.join(out_dir, "sink_english", "bucket=0"))
    third = run("--fresh")
    assert third["processed_buckets"] == 8 and third["totals"]["in_rows"] == 1500
    assert not any(d.startswith("bucket=") for d in os.listdir(os.path.join(out_dir, "sink_english")))


def test_package_zip_importable(tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.package import build

    zip_path = build(f"dist/test_{os.getpid()}.zip")
    import zipfile

    names = zipfile.ZipFile(zip_path).namelist()
    assert "shovel_spark/pipeline.py" in names
    assert "shovel_spark/cli.py" in names
    os.remove(zip_path)


def test_iceberg_surface_gated(spark):
    """No Iceberg jar in the sandbox: the format branch must fail loudly at
    plan time with setup guidance, and parquet must work identically."""
    import pytest as _pytest

    from shovel_spark.io.catalog import iceberg_available, read_pages

    assert iceberg_available(spark) is False
    with _pytest.raises(RuntimeError, match="iceberg runtime"):
        read_pages(spark, "lake.web.pages", fmt="iceberg")
    with _pytest.raises(ValueError, match="unknown format"):
        read_pages(spark, "x", fmt="orc2")


def test_empty_lookup_configs_use_defaults(spark):
    """Unconfigured lang_map / domain_rules: every lang normalizes to the
    default and every domain is allowed (no dummy-row artifacts)."""
    from pyspark.sql import functions as F

    from shovel_spark.pipeline import build_routed
    from shovel_spark.synth import synth_pages

    spec = PipelineSpec.from_dict(
        {"out_dir": "/tmp/x", "sinks": [{"name": "all", "predicate": "lang_norm = 'und'"}]}
    )
    routed = build_routed(
        synth_pages(spark, 200, seed=3),
        spec.lang_map_df(spark),
        spec.domain_rules_df(spark),
        spec.job_config(),
    )
    langs = {r["lang_norm"] for r in routed.select("lang_norm").distinct().collect()}
    assert langs == {"und"}
    assert routed.filter(F.col("rule_action") == "deny").count() == 0


def test_parse_duration_reference_semantics():
    """Utils.Duration.parse twin (reference: src/core/utils.js:97-101,
    parse-duration package semantics)."""
    from shovel_spark.config import parse_duration

    assert parse_duration("500ms") == 500
    assert parse_duration("1h 30min") == 5_400_000
    assert parse_duration("2.5 hrs") == 9_000_000
    assert parse_duration("1h,20m") == 4_800_000
    assert parse_duration(90) == 90.0
    assert parse_duration("90") == 90.0
    assert parse_duration("-5s") == -5000
    assert parse_duration("1y") == 12 * parse_duration("1mo")
    import pytest

    for bad in ("", "abc", "3 parsecs", "1h xx"):
        with pytest.raises(ValueError):
            parse_duration(bad)


def test_parse_duration_digit_grouping():
    from shovel_spark.config import parse_duration

    assert parse_duration("1,000ms") == 1000.0
    assert parse_duration("1,000,000 ms") == 1_000_000.0
