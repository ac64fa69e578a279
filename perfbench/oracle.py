"""Pure-Python recomputation of everything the benchmark checks.

Field functions mirror the Spark built-ins the generated configs name; the
CDC model mirrors the applied batches; Jaccard is recomputed on the same
word 5-shingles the dedup operator hashes.
"""

from __future__ import annotations

import copy

from perfbench.gen import SHINGLE_K


def _initcap(s: str) -> str:
    out, prev_space = [], True
    for ch in s.lower():
        out.append(ch.upper() if prev_space else ch)
        prev_space = ch == " "
    return "".join(out)


def _lpad(s: str, n: int, pad: str) -> str:
    return s[:n] if len(s) >= n else (pad * n)[: n - len(s)] + s


_NAMED = {
    "upper": str.upper,
    "lower": str.lower,
    "trim": lambda s: s.strip(" "),
    "reverse": lambda s: s[::-1],
    "initcap": _initcap,
    "negative": lambda x: -x,
    "abs": abs,
}
_WITH_ARGS = {
    "lpad": lambda s, n, pad: _lpad(s, n, pad),
    "substring": lambda s, pos, n: s[pos - 1: pos - 1 + n],
    "pmod": lambda x, m: x % m,
    "shiftleft": lambda x, bits: x << bits,
}


def field_fn(spec):
    """The Python equivalent of one config field function spec."""
    if isinstance(spec, str):
        return _NAMED[spec]
    fn = _WITH_ARGS[spec["fn"]]
    args = spec.get("args", [])
    return lambda v: fn(v, *args)


def _apply_at(value, segments: list[str], fn):
    """Apply ``fn`` at ``segments`` below ``value``; lists map element-wise
    and maps (lists of key/value pairs) map value-wise, like the engine's
    implicit container levels."""
    if isinstance(value, list):
        if value and isinstance(value[0], tuple):
            return [(k, _apply_at(v, segments, fn)) for k, v in value]
        return [_apply_at(v, segments, fn) for v in value]
    if not segments:
        return fn(value)
    head, rest = segments[0], segments[1:]
    value[head] = _apply_at(value[head], rest, fn)
    return value


def transform_row(row: dict, fields: dict) -> dict:
    """The expected output row of a transform stage with ``fields``."""
    out = copy.deepcopy(row)
    for path, spec in fields.items():
        head, *rest = path.split(".")
        out[head] = _apply_at(out[head], rest, field_fn(spec))
    return out


def normalize_maps(value):
    """Make map values comparable: key/value pair lists (PyArrow's form)
    become dicts (Spark's form), recursively."""
    if isinstance(value, dict):
        return {k: normalize_maps(v) for k, v in value.items()}
    if isinstance(value, list):
        if value and isinstance(value[0], tuple):
            return {k: normalize_maps(v) for k, v in value}
        return [normalize_maps(v) for v in value]
    return value


# ---------------------------------------------------------------------------
# table_cdc model
# ---------------------------------------------------------------------------

CHECKSUM_MOD = 1_000_003


def row_checksum(row: dict) -> int:
    return (row["o_orderkey"] * 131 + row["o_totalcents"] + len(row["o_comment"])) % CHECKSUM_MOD


class CdcModel:
    """Live rows by key and the checksum of every committed version."""

    def __init__(self, rows: list[dict]) -> None:
        self.live = {r["o_orderkey"]: dict(r) for r in rows}
        self.versions: dict[int, tuple] = {}

    def summary(self) -> tuple:
        """(rows, sum of keys, sum of cents, sum of row checksums)."""
        rows = self.live.values()
        return (
            len(self.live),
            sum(r["o_orderkey"] for r in rows),
            sum(r["o_totalcents"] for r in rows),
            sum(row_checksum(r) for r in rows),
        )

    def upsert(self, batch: list[dict]) -> int:
        matched = sum(1 for r in batch if r["o_orderkey"] in self.live)
        for r in batch:
            self.live[r["o_orderkey"]] = dict(r)
        return matched

    def delete(self, keys: list[int]) -> None:
        for k in keys:
            self.live.pop(k, None)

    def commit(self, version: int) -> None:
        self.versions[version] = self.summary()


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def normalize_text(text: str) -> str:
    """The ``normalized`` text op for ASCII input: control characters to
    spaces, lowercase, space runs collapsed, ends trimmed."""
    out = "".join(" " if ord(c) < 32 or ord(c) == 127 else c for c in text).lower()
    return " ".join(t for t in out.split(" ") if t)


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    words = [t for t in text.lower().split(" ") if t]
    if len(words) <= k:
        return {" ".join(words)}
    return {" ".join(words[i: i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)
