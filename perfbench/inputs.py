"""Seeded inputs for the benchmark workloads, with their expected outputs.

Every input is built on ``synth.gen_rows(n, seed)`` and then shaped per
workload:

* ``skewed``  -- gen_rows as is: ~70% nginx, 10% malformed lines.
* ``uniform`` -- gen_rows oversampled and thinned to an equal share per
  source, then ``NON_ASCII_FRAC`` of the rows get multi-byte UTF-8 text
  spliced into one of their words.  A lookup dictionary of
  ``DICT_SIZE`` ip -> owner entries is generated beside it, covering
  ``DICT_HIT_FRAC`` of the distinct ips found in the lines.

The expected per-sink row and token counts are computed here in plain
Python from the route table, without Spark.  Inputs are cached under
``<root>/.data/perfbench/`` keyed by kind, size and seed; generation time is
never part of a metric.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from loongcollector_spark.synth import SOURCES, gen_rows

NON_ASCII_FRAC = 0.10
DICT_SIZE = 16_384
DICT_HIT_FRAC = 0.5
FILES_PER_INPUT = 16  # several scan splits per slot at local[4]
CACHE_KEEP = 12  # newest cached inputs kept; older ones are pruned

# one ASCII word per source family -> a multi-byte UTF-8 variant of it
_UTF8_SWAPS = [
    ("/index.html", "/índex-首页.html"),
    ("/health", "/santé"),
    ("/api/v1/items", "/api/v1/物品"),
    ("/static/app.js", "/static/äpp.js"),
    ("/PutData", "/PutDäta"),
    ("/src/file.cpp", "/src/fïle.cpp"),
    ("/build/core/runner.cpp", "/build/core/rünner.cpp"),
    ("/apsara/common/util.cpp", "/apsara/common/ütil.cpp"),
    ("user:root", "user:rööt"),
    ("user:svc", "user:sërvice"),
    ("user:guest", "user:gäst"),
    ("MALFORMED", "MALFORMÉD"),
]
_IP_RE = re.compile(r"^(\d+\.\d+\.\d+\.\d+)[ |]")


class Input:
    """One generated input: the table directory plus what the program must
    produce from it."""

    def __init__(self, path: str):
        self.path = path
        self.table = os.path.join(path, "table")
        self.dict_path = os.path.join(path, "dict")
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)

    @property
    def n_rows(self) -> int:
        return self.meta["n_rows"]

    @property
    def n_tok(self) -> int:
        return self.meta["n_tok"]

    def rows(self) -> dict[str, tuple[bytes, str]]:
        """doc_id -> (payload bytes, source), read back from the table."""
        t = pq.read_table(self.table, columns=["doc_id", "tokens", "source"])
        return {
            d: (bytes(toks), s)
            for d, toks, s in zip(
                t.column("doc_id").to_pylist(),
                t.column("tokens").to_pylist(),
                t.column("source").to_pylist(),
            )
        }


def route_of(source: str, routes, default_sink: str) -> str:
    """Sink of one row under ``route_rows`` semantics: the first rule whose
    regex fully matches the source wins, else the default sink."""
    for rule in routes:
        if re.fullmatch(rule.regex, source):
            return rule.sink
    return default_sink


def expected_sinks(sources: list[str], n_toks: list[int], routes, default_sink: str,
                   always_sinks: tuple[str, ...] = ()) -> dict[str, dict[str, int]]:
    """Per-sink ``{n_rows, n_tok_sum}`` for route sinks plus sinks that take
    every row."""
    out: dict[str, dict[str, int]] = {}
    for src, n in zip(sources, n_toks):
        for sink in (route_of(src, routes, default_sink), *always_sinks):
            c = out.setdefault(sink, {"n_rows": 0, "n_tok_sum": 0})
            c["n_rows"] += 1
            c["n_tok_sum"] += n
    return out


def _uniform_rows(n_rows: int, seed: int):
    quota = {s: n_rows // len(SOURCES) + (i < n_rows % len(SOURCES)) for i, s in enumerate(SOURCES)}
    left = n_rows
    for doc_id, toks, _, source in gen_rows(n_rows * 40, seed):
        if quota[source]:
            quota[source] -= 1
            left -= 1
            yield doc_id, toks, source
            if not left:
                return
    raise RuntimeError("gen_rows ran out before the uniform quotas filled")


def _splice_utf8(line: str) -> str:
    for old, new in _UTF8_SWAPS:
        if old in line:
            return line.replace(old, new, 1)
    return line + " ünïcode"


def _generate(path: str, kind: str, n_rows: int, seed: int, routes, default_sink: str,
              always_sinks: tuple[str, ...]) -> None:
    rng = random.Random(seed * 7919 + 1)
    doc_ids, tokens, sources = [], [], []
    n_non_ascii = 0
    if kind == "skewed":
        for doc_id, toks, _, source in gen_rows(n_rows, seed):
            doc_ids.append(doc_id)
            tokens.append(toks)
            sources.append(source)
    elif kind == "uniform":
        for doc_id, toks, source in _uniform_rows(n_rows, seed):
            if rng.random() < NON_ASCII_FRAC:
                toks = list(_splice_utf8(bytes(toks).decode("utf-8")).encode("utf-8"))
                n_non_ascii += 1
            doc_ids.append(doc_id)
            tokens.append(toks)
            sources.append(source)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    n_toks = [len(t) for t in tokens]

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "table"))
    per_file = -(-n_rows // FILES_PER_INPUT)
    for part, lo in enumerate(range(0, n_rows, per_file)):
        hi = lo + per_file
        pq.write_table(
            pa.table({
                "doc_id": pa.array(doc_ids[lo:hi], pa.string()),
                "tokens": pa.array(tokens[lo:hi], pa.list_(pa.int32())),
                "n_tok": pa.array(n_toks[lo:hi], pa.int32()),
                "source": pa.array(sources[lo:hi], pa.string()),
            }),
            os.path.join(tmp, "table", f"part-{part:05d}.parquet"),
        )

    meta = {
        "kind": kind, "n_rows": n_rows, "seed": seed, "n_tok": sum(n_toks),
        "non_ascii_rows": n_non_ascii,
        "expected": expected_sinks(sources, n_toks, routes, default_sink, always_sinks),
    }
    if kind == "uniform":
        ips = sorted({m.group(1) for t in tokens if (m := _IP_RE.match(bytes(t).decode("utf-8")))})
        hits = [ip for ip in ips if rng.random() < DICT_HIT_FRAC]
        # fillers live in 240.0.0.0/4, which no generated line uses
        fillers = [f"240.{i >> 16 & 255}.{i >> 8 & 255}.{i & 255}" for i in range(max(0, DICT_SIZE - len(hits)))]
        keys = hits + fillers
        os.makedirs(os.path.join(tmp, "dict"))
        pq.write_table(
            pa.table({"ip": keys, "owner": [f"team-{i % 97}" for i in range(len(keys))]}),
            os.path.join(tmp, "dict", "part-00000.parquet"),
        )
        meta["dict_entries"] = len(keys)
        meta["dict_hit_ips"] = len(hits)
        meta["distinct_ips"] = len(ips)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)


def ensure_input(base: str, kind: str, n_rows: int, seed: int, routes, default_sink: str,
                 always_sinks: tuple[str, ...] = ()) -> Input:
    """Generate (or reuse from the cache) one input and return it."""
    os.makedirs(base, exist_ok=True)
    tag = "-".join(always_sinks) or "none"
    path = os.path.join(base, f"{kind}_{n_rows}_{seed}_{tag}")
    if not os.path.exists(path):
        _generate(path, kind, n_rows, seed, routes, default_sink, always_sinks)
    os.utime(path)
    _prune(base)
    return Input(path)


def _prune(base: str) -> None:
    entries = [os.path.join(base, e) for e in os.listdir(base) if not e.endswith(".tmp")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
