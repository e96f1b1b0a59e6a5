"""Benchmark inputs and the independent reference their outputs are checked
against.

Pages come from the program's own generator, ``synth_pages(seed)``, written
to parquet in the run's scratch space (the CLI path reads its input from
parquet). Every run generates its input inside its set-up, so set-up does
the same work whether or not the seed was seen before.

The reference is the program's pure-Python oracle (``shovel_spark.oracle``)
streamed over the input parquet in chunks read with pyarrow — no Spark
involved — and reduced to counts and order-insensitive digests. It is cached
under ``.perfbench_cache/``, keyed by the input's bytes, the config and the
oracle's source; a cache file is written under a temporary name and renamed
into place, so a run that dies half-way leaves nothing a later run would
take as complete.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

#: The default config's routing, written out independently of the Spark
#: column predicates it mirrors (``operators.route.default_sink_rules``).
ORACLE_SINK_RULES = [
    ("hot", "rule_sink", "hot"),
    ("commerce", "rule_sink", "commerce"),
    ("knowledge", "rule_sink", "knowledge"),
    ("media", "rule_sink", "media"),
    ("english", "lang_norm", "en"),
    ("intl", "lang_norm", frozenset({"fr", "de", "es", "zh", "ja"})),
]

#: The denied domain the replay's relaxed config flips to allow.
RELAXED_DOMAIN = "spam.badsite.biz"


def row_hash(*parts: str | None) -> int:
    key = "\x1f".join("\x00" if p is None else p for p in parts)
    return int.from_bytes(hashlib.blake2b(key.encode("utf-8"), digest_size=8).digest(), "little")


def digest_add(acc: int, h: int) -> int:
    """Order-insensitive, multiplicity-sensitive digest: a sum mod 2^64."""
    return (acc + h) & 0xFFFFFFFFFFFFFFFF


def _digest(*parts: bytes) -> str:
    return hashlib.sha256(b"\0".join(parts)).hexdigest()[:12]


def generate_pages(spark, path: Path, seed: int, n: int) -> Path:
    """Write ``synth_pages(seed)`` with ``n`` pages as parquet at ``path``."""
    from shovel_spark.synth import synth_pages

    parts = max(1, (os.cpu_count() or 1))
    synth_pages(spark, n, seed=seed, partitions=parts).write.mode("overwrite").parquet(str(path))
    return path


def oracle_config(spark) -> tuple[dict, dict, dict]:
    """(lang_map, strict domain rules, relaxed domain rules) as plain dicts."""
    from shovel_spark.synth import default_domain_rules, default_lang_map

    lang_map = {r.lang_raw: r.lang_norm for r in default_lang_map(spark).collect()}
    strict = {r.domain: (r.action, r.sink) for r in default_domain_rules(spark).collect()}
    relaxed = dict(strict)
    relaxed[RELAXED_DOMAIN] = ("allow", None)
    return lang_map, strict, relaxed


class _Summary:
    """Counts and digests of one oracle run, accumulated chunk by chunk."""

    def __init__(self) -> None:
        self.status: Counter = Counter()
        self.sinks: Counter = Counter()
        self.route_digest = 0
        self.text_digest = 0

    def add(self, res, gen_text: dict[str, str]) -> None:
        self.status.update(res.counts)
        self.sinks.update(res.sink_counts)
        for sink, urls in res.sink_rows.items():
            for url in urls:
                self.route_digest = digest_add(self.route_digest, row_hash(sink, url))
                if url in res.texts:
                    # the generator's text, not the oracle's extraction: the
                    # two are compared separately (text_mismatches)
                    self.text_digest = digest_add(self.text_digest, row_hash(url, gen_text[url]))

    def as_dict(self) -> dict:
        return {
            "status": dict(self.status),
            "sinks": dict(self.sinks),
            "route_digest": self.route_digest,
            "text_digest": self.text_digest,
        }


def compute_reference(pages: Path, lang_map: dict, rules: dict, chunk_rows: int = 4096) -> dict:
    """Counts and digests of the oracle over the input, with the number of
    rows whose oracle extraction differs from the generator's text."""
    from shovel_spark.oracle import run_oracle

    summary = _Summary()
    text_mismatches = 0
    for f in sorted(pages.glob("*.parquet")):
        for batch in pq.ParquetFile(f).iter_batches(
            batch_size=chunk_rows, columns=["url", "html", "text", "lang"]
        ):
            rows = batch.to_pylist()
            gen_text = {r["url"]: r["text"] for r in rows}
            res = run_oracle(rows, lang_map, rules, ORACLE_SINK_RULES)
            summary.add(res, gen_text)
            text_mismatches += sum(1 for u, t in res.texts.items() if gen_text[u] != t)
    return {**summary.as_dict(), "text_mismatches": text_mismatches}


class References(dict):
    """The reference summary of each named domain-rule config of one input,
    computed on first use or read from the cache; ``computed`` lists the
    configs that missed the cache."""

    def __init__(self, pages: Path, cache: Path, root: Path, lang_map: dict,
                 rules: dict[str, dict]):
        super().__init__()
        self.pages, self.cache, self.lang_map, self.rules = pages, cache, lang_map, rules
        self.computed: list[str] = []
        h = hashlib.sha256()
        for f in sorted(pages.glob("*.parquet")):
            h.update(f.read_bytes())
        self.key = _digest(h.digest(), (root / "shovel_spark" / "oracle.py").read_bytes(),
                           repr(ORACLE_SINK_RULES).encode())

    def __missing__(self, name: str) -> dict:
        config = json.dumps([self.lang_map, self.rules[name]], sort_keys=True).encode()
        path = self.cache / f"reference-{_digest(self.key.encode(), config)}.json"
        if path.exists():
            summary = json.loads(path.read_text())
        else:
            summary = compute_reference(self.pages, self.lang_map, self.rules[name])
            self.cache.mkdir(parents=True, exist_ok=True)
            tmp = path.with_name(f".{path.name}-{os.getpid()}")
            tmp.write_text(json.dumps(summary) + "\n")
            tmp.rename(path)
            self.computed.append(name)
        self[name] = summary
        return summary
