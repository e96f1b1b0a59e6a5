"""Output checks, run after each timed operation and outside its timed region.

Each check returns a list of problems; an empty list means the output is
correct. Sink contents are read back with pyarrow, file by file, so the
check does not go through the Spark code it is checking.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

from inputs import digest_add, row_hash


def sink_dirs(out_dir: Path) -> dict[str, Path]:
    """``sink_<name>`` tables (not the replay's transient ``__`` siblings)."""
    return {
        d.name[len("sink_"):]: d
        for d in sorted(out_dir.glob("sink_*"))
        if d.is_dir() and "__" not in d.name
    }


def read_sinks(out_dir: Path) -> dict:
    """Row counts per sink and the digests of what the sinks hold."""
    counts: Counter = Counter()
    route_digest = text_digest = 0
    for sink, d in sink_dirs(out_dir).items():
        for f in sorted(d.rglob("*.parquet")):
            t = pq.ParquetFile(f).read(columns=["url", "text"])
            for url, text in zip(t.column("url").to_pylist(), t.column("text").to_pylist()):
                counts[sink] += 1
                route_digest = digest_add(route_digest, row_hash(sink, url))
                if text is not None:
                    text_digest = digest_add(text_digest, row_hash(url, text))
    return {"sinks": dict(counts), "route_digest": route_digest, "text_digest": text_digest}


def tree_bytes(paths) -> int:
    return sum(f.stat().st_size for p in paths for f in p.rglob("*") if f.is_file())


def check_sinks(got: dict, want: dict) -> list[str]:
    """Sink contents against one oracle summary (``reference[config]``)."""
    problems = []
    if got["sinks"] != want["sinks"]:
        problems.append(f"per-sink rows {got['sinks']} != reference {want['sinks']}")
    if got["route_digest"] != want["route_digest"]:
        problems.append("(sink, url) digest differs from the reference")
    if got["text_digest"] != want["text_digest"]:
        problems.append("(url, text) digest differs from the generator's text")
    if want["text_mismatches"]:
        problems.append(f"reference: {want['text_mismatches']} oracle texts differ from "
                        "the generator's text column")
    return problems


def check_ledger_totals(row: dict, want: dict, nacked: int) -> list[str]:
    """``metrics_from_ledger`` totals against the reference status counts."""
    st = want["status"]
    expect = {
        "in_rows": st.get("in", 0),
        "acked": st.get("acked", 0),
        "ignored": st.get("ignored", 0),
        "rejected": st.get("rejected", 0),
        "nacked": nacked,
    }
    got = {k: int(row[k] or 0) for k in expect}
    return [] if got == expect else [f"ledger totals {got} != expected {expect}"]


def check_sink_metrics(rows: list[dict], got_sinks: dict) -> list[str]:
    """``sink_metrics_from_buckets`` rows must equal the sink contents."""
    problems = []
    by_sink = {r["sink"]: r for r in rows}
    want = {k: v for k, v in got_sinks.items() if v}
    have = {k: int(r["in_rows"]) for k, r in by_sink.items() if int(r["in_rows"])}
    if have != want:
        problems.append(f"sink_metrics_from_buckets rows {have} != sink contents {want}")
    for sink, r in by_sink.items():
        status = "rejected" if sink == "dead_letter" else "acked"
        if int(r[status]) != int(r["in_rows"]):
            problems.append(f"sink_metrics_from_buckets {sink}: {status}={r[status]} "
                            f"!= in_rows={r['in_rows']}")
    return problems


def check_route_counts(got: dict, want: dict) -> list[str]:
    """Status counts of the route layer against one oracle summary."""
    expect = {s: want["status"].get(s, 0) for s in got}
    return [] if got == expect else [f"route layer counts {got} != reference {expect}"]


def check_replay(result: dict, ref: dict) -> list[str]:
    """The counts ``replay_dead_letters`` returns, against the two oracle runs."""
    strict, relaxed = ref["strict"]["status"], ref["relaxed"]["status"]
    retried = strict.get("rejected", 0)
    expect = {
        "retried": retried,
        "recovered": retried - relaxed.get("rejected", 0),
        "still_dead": relaxed.get("rejected", 0),
        "unmatched": 0,
    }
    got = {k: int(result[k]) for k in expect}
    return [] if got == expect else [f"replay counts {got} != expected {expect}"]
