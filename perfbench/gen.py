"""Seeded input generators for the benchmark workloads.

Everything here is pure Python (PyArrow only to shape tables): the same
seed always yields the same tables, configs and batches, and no generator
touches Spark or the engine. The engine only ever sees what these functions
produce, written as parquet by the workload set-up.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

import pyarrow as pa

# ---------------------------------------------------------------------------
# field functions of config_compile (the oracle in oracle.py recomputes each
# one in pure Python)
# ---------------------------------------------------------------------------

STRING_FNS: list = [
    "upper",
    "lower",
    "trim",
    "reverse",
    "initcap",
    {"fn": "lpad", "args": [12, "*"]},
    {"fn": "substring", "args": [1, 4]},
]
LONG_FNS: list = [
    "negative",
    "abs",
    {"fn": "pmod", "args": [97]},
    {"fn": "shiftleft", "args": [1]},
]

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _words(rng: random.Random, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    return [
        "".join(rng.choice(_LETTERS) for _ in range(rng.randint(lo, hi)))
        for _ in range(n)
    ]


def _pick_fn(rng: random.Random, kind: str):
    return rng.choice(STRING_FNS if kind == "string" else LONG_FNS)


# ---------------------------------------------------------------------------
# config_compile
# ---------------------------------------------------------------------------

CC_ROOTS = 16
CC_ROWS = 100
CC_ELEMS = 2  # elements per array / entries per map
# members of every root struct, in schema order, with their container kind
CC_MEMBERS: list[tuple[str, str]] = [
    ("m0", "struct"), ("m1", "struct"),
    ("m2", "array"), ("m3", "array"),
    ("m4", "map"), ("m5", "map"),
]
CC_LEAVES: list[tuple[str, str]] = [
    ("f0", "string"), ("f1", "string"), ("f2", "string"),
    ("f3", "long"), ("f4", "long"), ("f5", "long"),
]


@dataclass(frozen=True)
class Shape:
    """One config shape: ``roots`` touched roots; in each, ``structs`` plain
    struct members, ``arrays`` array<struct> members and ``maps``
    map<string,struct> members; ``leaves`` touched leaves per member."""

    roots: int
    structs: int
    arrays: int
    maps: int
    leaves: int

    @property
    def members(self) -> int:
        return self.structs + self.arrays + self.maps

    @property
    def paths(self) -> int:
        return self.roots * self.members * self.leaves


# The config stream cycles through these shapes so every run sees the same
# mix whatever the seed; the seed picks roots, members, leaves and
# functions. Touched siblings per struct stay within 2-5 at both levels
# and a config has 24-48 paths over 4-8 roots. On the seed engine the
# time to build a plan doubles with each touched leaf of a plain struct
# member, so leaves 2 -> 3 -> 4 over two plain members set the tail.
CC_SHAPES: list[Shape] = [
    Shape(4, 1, 1, 1, 2),
    Shape(4, 2, 1, 0, 3),
    Shape(8, 1, 1, 1, 2),
    Shape(4, 2, 1, 0, 4),
    Shape(4, 2, 2, 1, 2),
]
CC_CAPS = {
    "roots": (4, 8),
    "siblings": (2, 5),
    "paths": (24, 48),
}


def _cc_schema() -> pa.Schema:
    leaf = pa.struct([(n, pa.string() if k == "string" else pa.int64()) for n, k in CC_LEAVES])
    member_type = {"struct": leaf, "array": pa.list_(leaf), "map": pa.map_(pa.string(), leaf)}
    root = pa.struct([(n, member_type[k]) for n, k in CC_MEMBERS])
    return pa.schema([("id", pa.int64())] + [(f"r{i}", root) for i in range(CC_ROOTS)])


CC_SCHEMA = _cc_schema()


def cc_rows(seed: int) -> list[dict]:
    """The ``CC_ROWS``-row nested input every config_compile job reads."""
    rng = random.Random(seed * 104729 + 3)
    vocab = [f" {w}" if i % 5 == 0 else w for i, w in enumerate(_words(rng, 300))]

    def leaf() -> dict:
        return {
            n: (rng.choice(vocab) if k == "string" else rng.randint(-99_999, 99_999))
            for n, k in CC_LEAVES
        }

    def member(kind: str):
        if kind == "struct":
            return leaf()
        if kind == "array":
            return [leaf() for _ in range(CC_ELEMS)]
        return [(f"k{j}", leaf()) for j in range(CC_ELEMS)]

    return [
        {"id": i, **{f"r{r}": {n: member(k) for n, k in CC_MEMBERS} for r in range(CC_ROOTS)}}
        for i in range(CC_ROWS)
    ]


def cc_config(rng: random.Random, shape: Shape) -> dict[str, object]:
    """One transform field map of ``shape``, paths in schema order."""
    fields: dict[str, object] = {}
    by_kind = {k: [n for n, kind in CC_MEMBERS if kind == k] for k in ("struct", "array", "map")}
    for root in sorted(rng.sample(range(CC_ROOTS), shape.roots)):
        members = (
            rng.sample(by_kind["struct"], shape.structs)
            + rng.sample(by_kind["array"], shape.arrays)
            + rng.sample(by_kind["map"], shape.maps)
        )
        for member in sorted(members):
            # half the touched leaves are strings, half longs (odd: one
            # more string), so every config of a shape does similar work
            strings = rng.sample(range(3), (shape.leaves + 1) // 2)
            longs = rng.sample(range(3, 6), shape.leaves // 2)
            for li in sorted(strings + longs):
                name, kind = CC_LEAVES[li]
                fields[f"r{root}.{member}.{name}"] = _pick_fn(rng, kind)
    return fields


def cc_configs(seed: int, count: int) -> list[dict[str, object]]:
    """``count`` distinct field maps cycling through ``CC_SHAPES``."""
    rng = random.Random(seed * 15485863 + 5)
    seen: set[str] = set()
    out = []
    while len(out) < count:
        cfg = cc_config(rng, CC_SHAPES[len(out) % len(CC_SHAPES)])
        key = repr(sorted((k, repr(v)) for k, v in cfg.items()))
        if key not in seen:
            seen.add(key)
            out.append(cfg)
    return out


# ---------------------------------------------------------------------------
# table_cdc
# ---------------------------------------------------------------------------

ORDERS_ROWS = 40_000
ORDERS_YEARS = list(range(1992, 1999))
ORDER_STATUSES = ["F", "O", "P"]
ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CDC_UPDATES = 240
CDC_INSERTS = 120
CDC_DELETES = 30
# the op cycle; every commit is followed by a live read that checks it
CDC_CYCLE = [
    "merge", "read", "time_travel",
    "delete", "read",
    "delete", "read",
    "coalesce", "read", "time_travel",
]
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalcents", pa.int64()),
    ("o_orderpriority", pa.string()),
    ("o_clerk", pa.string()),
    ("o_comment", pa.string()),
    ("o_year", pa.int32()),
])


def _order_row(rng: random.Random, key: int, year: int, words: list[str]) -> dict:
    return {
        "o_orderkey": key,
        "o_custkey": rng.randint(1, 15_000),
        "o_orderstatus": rng.choice(ORDER_STATUSES),
        "o_totalcents": rng.randint(90_000, 50_000_000),
        "o_orderpriority": rng.choice(ORDER_PRIORITIES),
        "o_clerk": f"Clerk#{rng.randint(1, 1000):09d}",
        "o_comment": " ".join(rng.choice(words) for _ in range(rng.randint(3, 8))),
        "o_year": year,
    }


class CdcStream:
    """The seeded orders table plus the stream of CDC batches and delete
    key sets applied to it. Keys follow TPC-H's sparse numbering; updates
    and deletes target existing keys of the two latest years, inserts add
    new keys to the latest year."""

    def __init__(self, seed: int, n_rows: int = ORDERS_ROWS) -> None:
        self.seed = seed
        rng = random.Random(seed * 32452843 + 7)
        self.words = _words(rng, 400)
        self.rows = [
            _order_row(rng, 32 * (i // 8) + (i % 8) + 1,
                       ORDERS_YEARS[i * len(ORDERS_YEARS) // n_rows], self.words)
            for i in range(n_rows)
        ]
        self.reset()

    def reset(self) -> None:
        """Restart the batch stream from the bootstrap table."""
        self.rng = random.Random(self.seed * 86028121 + 13)
        self.next_key = 32 * (len(self.rows) // 8 + 1) + 1
        self.hot = sorted(r["o_orderkey"] for r in self.rows if r["o_year"] >= ORDERS_YEARS[-2])

    def table(self) -> pa.Table:
        return pa.Table.from_pylist(self.rows, schema=ORDERS_SCHEMA)

    def batch(self, live: dict[int, dict]) -> list[dict]:
        """One CDC batch: updates to live hot keys plus fresh inserts."""
        live_hot = [k for k in self.hot if k in live]
        out = []
        for key in sorted(self.rng.sample(live_hot, min(CDC_UPDATES, len(live_hot)))):
            row = dict(live[key])
            row["o_orderstatus"] = self.rng.choice(ORDER_STATUSES)
            row["o_totalcents"] = self.rng.randint(90_000, 50_000_000)
            row["o_comment"] = " ".join(self.rng.choice(self.words) for _ in range(4))
            out.append(row)
        for _ in range(CDC_INSERTS):
            key = self.next_key
            self.next_key += 1
            self.hot.append(key)
            out.append(_order_row(self.rng, key, ORDERS_YEARS[-1], self.words))
        return out

    def delete_keys(self, live: dict[int, dict]) -> list[int]:
        live_hot = [k for k in self.hot if k in live]
        return sorted(self.rng.sample(live_hot, min(CDC_DELETES, len(live_hot))))


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

CORPUS_DOCS = 2000
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.03
SHINGLE_K = 5


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    near_pairs: set[tuple[int, int]]  # (original id, edited copy id)
    exact_dups: set[int]  # ids that repeat an earlier doc after normalization


def corpus(seed: int, n_docs: int = CORPUS_DOCS) -> Corpus:
    """``n_docs`` documents of 80-200 words over a Zipf-like vocabulary.
    About 10% are near-duplicates of an original with one word replaced;
    about 3% repeat an original with different case and spacing, so they
    are exact duplicates only after normalization."""
    rng = random.Random(seed * 49979687 + 11)
    vocab = _words(rng, 6000, 2, 10)
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    cum = list(itertools.accumulate(weights))
    docs: list[tuple[int, str]] = []
    originals: list[int] = []
    near: set[tuple[int, int]] = set()
    exact: set[int] = set()
    for doc_id in range(n_docs):
        roll = rng.random()
        if originals and roll < NEAR_DUP_SHARE:
            src = rng.choice(originals)
            words = docs[src][1].split(" ")
            pos = rng.randrange(len(words))
            new = words[pos]
            while new == words[pos]:
                new = rng.choice(vocab)
            words[pos] = new
            docs.append((doc_id, " ".join(words)))
            near.add((src, doc_id))
        elif originals and roll < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            src = rng.choice(originals)
            words = docs[src][1].split(" ")
            docs.append((doc_id, "  ".join(w.capitalize() for w in words) + " "))
            exact.add(doc_id)
        else:
            n = rng.randint(80, 200)
            words = rng.choices(vocab, cum_weights=cum, k=n)
            docs.append((doc_id, " ".join(words)))
            originals.append(doc_id)
    return Corpus(docs, near, exact)


def corpus_table(c: Corpus) -> pa.Table:
    return pa.table({
        "id": pa.array([d[0] for d in c.docs], pa.int64()),
        "text": pa.array([d[1] for d in c.docs], pa.string()),
    })
