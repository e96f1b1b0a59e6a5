"""Self-tests of the benchmark at toy size.

    python3 -m pytest perfbench -q

Every workload completes once, untraced and traced; every output check
rejects a deliberately wrong expectation; the span tree is well-formed.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import inputs  # noqa: E402
from engine import Engine, Op, judge  # noqa: E402
from spans import Tracer  # noqa: E402

PAGES = 2000
SEED = 7


@pytest.fixture(scope="module")
def spark():
    from shovel_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench_selftest")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    return inputs.generate_pages(spark, tmp_path_factory.mktemp("inputs") / "pages", SEED, PAGES)


@pytest.fixture(scope="module")
def ref(spark, pages, tmp_path_factory):
    lang_map, strict, relaxed = inputs.oracle_config(spark)
    return inputs.References(pages, tmp_path_factory.mktemp("cache"), ROOT, lang_map,
                             {"strict": strict, "relaxed": relaxed})


@pytest.fixture(scope="module")
def engine(spark, pages, tmp_path_factory):
    return Engine(spark, pages, tmp_path_factory.mktemp("work"))


# -- spans -------------------------------------------------------------------


def test_span_tree_is_well_formed():
    t = Tracer()
    with t.span("root") as root:
        with t.span("a"):
            with t.span("a1"):
                pass
        with t.span("b"):
            pass
    assert t.problems() == []
    assert all(t.self_seconds(s) >= 0 for s in t.spans)
    kids = t.children(root)
    assert [k.name for k in kids] == ["a", "b"]
    assert t.self_seconds(root) <= root.seconds - sum(k.seconds for k in kids) + 1e-9
    assert t.innermost(t.last("a1").start).name == "a1"


def test_malformed_span_tree_is_reported():
    t = Tracer()
    with t.span("root"):
        pass
    with t.span("late"):
        pass
    t.spans[1].parent = 0  # a child that starts after its parent ended
    assert any("outside its parent" in p for p in t.problems())


# -- inputs and references ---------------------------------------------------


def test_reference_cache_round_trips(spark, pages, tmp_path):
    lang_map, strict, _relaxed = inputs.oracle_config(spark)
    first = inputs.References(pages, tmp_path, ROOT, lang_map, {"strict": strict})
    want = first["strict"]
    assert first.computed == ["strict"] and want["status"]["in"] == PAGES
    [cached] = tmp_path.glob("reference-*.json")
    assert cached.read_text().endswith("\n")
    again = inputs.References(pages, tmp_path, ROOT, lang_map, {"strict": strict})
    assert again["strict"] == want and again.computed == []
    other = inputs.References(pages, tmp_path, ROOT, {}, {"strict": strict})
    assert other.key == again.key
    other["strict"]  # another config is another cache entry
    assert other.computed == ["strict"] and len(list(tmp_path.glob("reference-*.json"))) == 2


def test_reference_cache_is_keyed_by_the_input_bytes(spark, pages, tmp_path):
    lang_map, strict, _relaxed = inputs.oracle_config(spark)
    copy = tmp_path / "pages"
    copy.mkdir()
    for f in pages.glob("*.parquet"):
        (copy / f.name).write_bytes(f.read_bytes())
    key = inputs.References(copy, tmp_path, ROOT, lang_map, {"strict": strict}).key
    assert key == inputs.References(pages, tmp_path, ROOT, lang_map, {"strict": strict}).key
    first = sorted(copy.glob("*.parquet"))[0]
    first.write_bytes(first.read_bytes() + b"\0")
    assert inputs.References(copy, tmp_path, ROOT, lang_map, {"strict": strict}).key != key


# -- the workloads ----------------------------------------------------------


@pytest.mark.parametrize("workload", ["ingest_small", "resume_replay"])
def test_workload_completes_and_checks_pass(engine, ref, workload):
    engine.warm_up(workload)
    m = engine.measure(workload, seconds=0)
    assert m["ops"], "no operation ran"
    judge(m["ops"], ref)
    assert [o.problems for o in m["ops"]] == [[] for _ in m["ops"]]


@pytest.mark.parametrize("workload", ["ingest_small", "resume_replay"])
def test_traced_run_reports_every_declared_metric(engine, ref, workload):
    tracer = Tracer()
    metrics, ops = engine.traced(workload, tracer)
    metrics["session.start_s"] = 0.0
    declared = {m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    assert set(metrics) == declared
    judge(ops, ref)
    assert [o.problems for o in ops] == [[] for _ in ops]
    assert tracer.problems() == []
    assert metrics["pipeline.jobs"] > 0 and metrics["io.sinks.jobs"] > 0
    if workload == "resume_replay":
        assert metrics["pipeline.resume.pending_buckets"] < 64


def test_judge_counts_a_failing_check():
    ops = [Op("ok", 1.0, judge=lambda ref: []), Op("wrong", 1.0, judge=lambda ref: ["bad"]),
           Op("raises", 1.0, judge=lambda ref: ref["missing"])]
    judge(ops, {})
    assert [o.problems for o in ops] == [[], ["bad"], ["check: KeyError: 'missing'"]]


#: runs run.py's main() with every workload shrunk to 500 pages
SMALL_RUN = ("import sys; sys.path[:0] = ['perfbench']; import engine; "
             "engine.PAGES = dict.fromkeys(engine.PAGES, 500); import run; "
             "sys.exit(run.main(sys.argv[1:]))")


def test_cli_contract_prints_one_result_line():
    out = subprocess.run(
        [sys.executable, "-c", SMALL_RUN, "--workload", "ingest_small", "--seed", "3",
         "--seconds", "0", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in HERE.glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_small", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""


# -- each check rejects a wrong expectation ---------------------------------


@pytest.fixture(scope="module")
def ingested(engine):
    cfg = engine.prepare("ingest_small", "checks")
    _result, totals = engine.cli_path(cfg)
    return cfg, totals, checks.read_sinks(Path(cfg.out_dir))


def _bumped(d: dict, key: str) -> dict:
    out = json.loads(json.dumps(d))
    out[key] = out[key] + 1
    return out


def test_check_sinks_rejects_wrong_expectations(ref, ingested):
    _cfg, _totals, got = ingested
    want = ref["strict"]
    assert checks.check_sinks(got, want) == []
    for key in ("route_digest", "text_digest", "text_mismatches"):
        assert checks.check_sinks(got, _bumped(want, key))
    wrong = json.loads(json.dumps(want))
    wrong["sinks"]["english"] += 1
    assert checks.check_sinks(got, wrong)


def test_check_ledger_totals_rejects_wrong_expectations(ref, ingested):
    _cfg, totals, _got = ingested
    want = ref["strict"]
    assert checks.check_ledger_totals(totals.asDict(), want, nacked=0) == []
    assert checks.check_ledger_totals(totals.asDict(), want, nacked=1)
    wrong = json.loads(json.dumps(want))
    wrong["status"]["acked"] -= 1
    assert checks.check_ledger_totals(totals.asDict(), wrong, nacked=0)


def test_check_sink_metrics_rejects_wrong_expectations(engine, ingested):
    cfg, _totals, got = ingested
    rows = engine.sink_metrics_rows(cfg)
    assert checks.check_sink_metrics(rows, got["sinks"]) == []
    wrong = dict(got["sinks"], hot=got["sinks"]["hot"] + 1)
    assert checks.check_sink_metrics(rows, wrong)
    rows[0] = dict(rows[0], acked=-1, rejected=-1)
    assert checks.check_sink_metrics(rows, got["sinks"])


def test_check_route_counts_rejects_wrong_expectations(ref):
    got = {s: ref["strict"]["status"].get(s, 0) for s in ("acked", "ignored", "rejected")}
    assert checks.check_route_counts(got, ref["strict"]) == []
    assert checks.check_route_counts(_bumped(got, "ignored"), ref["strict"])


def test_check_replay_rejects_wrong_expectations(ref):
    strict, relaxed = ref["strict"]["status"], ref["relaxed"]["status"]
    right = {"retried": strict["rejected"], "recovered": strict["rejected"] - relaxed["rejected"],
             "still_dead": relaxed["rejected"], "unmatched": 0}
    assert checks.check_replay(right, ref) == []
    for key in right:
        assert checks.check_replay(_bumped(right, key), ref)
