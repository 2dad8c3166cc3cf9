"""Output checks, run outside the timed window.  Each returns a list of
error strings; an empty list means the output is correct."""

from __future__ import annotations

import random
import re

import pyarrow.parquet as pq

_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, which Spark's regexp_replace uses


def check_job(res: dict, rows: dict[str, tuple[bytes, str]], expected: dict, sinks_of) -> list[str]:
    """``run_job`` result against the generator's expectations.

    * the per-sink ``{n_rows, n_tok_sum}`` the job reports equal the expected
      values exactly;
    * each committed sink holds exactly those rows: its ``content`` re-encodes
      to the input tokens of the same ``doc_id`` (routed-row token-array
      equality) and the row belongs in that sink (``sinks_of(source)``).
    """
    errors = []
    if res["counts"] != expected:
        errors.append(f"counts {res['counts']} != expected {expected}")
    for sink, exp in expected.items():
        path = res["sinks"].get(sink)
        if path is None:
            errors.append(f"sink {sink} not committed")
            continue
        t = pq.read_table(path, columns=["doc_id", "content"])
        ids = t.column("doc_id").to_pylist()
        n_tok = 0
        for doc_id, content in zip(ids, t.column("content").to_pylist()):
            payload, source = rows[doc_id]
            data = content.encode("utf-8")
            n_tok += len(data)
            if data != payload:
                errors.append(f"{sink}: {doc_id} content does not re-encode to its tokens")
            if sink not in sinks_of(source):
                errors.append(f"{sink}: {doc_id} (source {source}) routed to the wrong sink")
        if len(ids) != exp["n_rows"] or len(set(ids)) != len(ids) or n_tok != exp["n_tok_sum"]:
            errors.append(f"{sink}: committed {len(ids)} rows ({len(set(ids))} distinct), "
                          f"{n_tok} tokens; expected {exp}")
    return errors[:20]


def word_bigrams(text: str) -> set[str]:
    """Python twin of ``dedup.word_ngrams(normalize_text(col), 2)``."""
    words = _JAVA_SPACE.sub(" ", text.lower()).strip(" ").split(" ")
    return {f"{a} {b}" for a, b in zip(words, words[1:])}


def _is_subsequence(sub: list[int], seq: bytes) -> bool:
    it = iter(seq)
    return all(any(x == y for y in it) for x in sub)


def check_dedup(stats, strip, pairs, rows: dict[str, tuple[bytes, str]], n_rows: int,
                k: int, threshold: float, seed: int, sample: int = 200) -> list[str]:
    """The three dedup outputs (pyarrow tables) against their invariants."""
    errors = []
    if stats.num_rows != n_rows:
        errors.append(f"ngram stats: {stats.num_rows} rows, expected {n_rows}")
    for r in stats.to_pylist():
        payload = rows[r["doc_id"]][0]
        if not (0.0 <= r["dup_rate"] <= 1.0 and 0 <= r["n_dup_grams"] <= r["n_grams"]
                and r["n_grams"] == max(len(payload) - k + 1, 0)):
            errors.append(f"ngram stats: bad row {r}")
    if strip.num_rows != n_rows:
        errors.append(f"span strip: {strip.num_rows} rows, expected {n_rows}")
    for r in strip.to_pylist():
        payload = rows[r["doc_id"]][0]
        clean = r["tokens_clean"]
        if not (r["n_tok"] == len(payload) and 0 <= r["n_removed"] <= r["n_tok"]
                and len(clean) == r["n_tok"] - r["n_removed"] and _is_subsequence(clean, payload)):
            errors.append(f"span strip: {r['doc_id']} is not an in-order subsequence of its input")
    pair_rows = pairs.to_pylist()
    for r in random.Random(seed).sample(pair_rows, min(sample, len(pair_rows))):
        a = word_bigrams(rows[r["id_a"]][0].decode("utf-8"))
        b = word_bigrams(rows[r["id_b"]][0].decode("utf-8"))
        jac = len(a & b) / len(a | b) if a | b else 0.0
        # Spark rounds the Jaccard to 6 digits before comparing it
        if not (r["id_a"] < r["id_b"] and round(jac, 6) >= threshold):
            errors.append(f"lsh pair {r['id_a']},{r['id_b']}: exact jaccard {jac:.6f} < {threshold}")
    return errors[:20]
