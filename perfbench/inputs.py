"""Seeded input generators: text corpora for the ingest workloads and the
star-schema + events tables the query mix reads.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same seed gives byte-identical inputs on every host.  Nothing in this
module touches Spark: the program under test only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# text corpora

_ASCII_WORDS = (
    "the a of and to in is it data stream batch window spark table query "
    "order line value key join merge filter scan sort group hash vector "
    "column row part customer fast slow big small agg"
).split()
_ACCENTED_WORDS = (
    "école café garçon niño año señor über straße größe déjà vu été "
    "où çà élève crème brûlée façade naïve"
).split()
# CJK unified ideographs and astral-plane characters (4-byte UTF-8):
# mathematical alphanumerics and emoji
_CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 400)]
_ASTRAL = [chr(c) for c in range(0x1D400, 0x1D434)] + [
    chr(c) for c in range(0x1F600, 0x1F640)
]


def _paragraph(rng: np.random.Generator, n_bytes: int) -> str:
    """About ``n_bytes`` of mixed-script text: mostly ASCII words, with
    accented words, CJK runs and astral-plane characters mixed in."""
    n_pieces = max(1, n_bytes // 40)
    kinds = rng.random(n_pieces)
    lengths = rng.integers(1, 16, n_pieces).tolist()
    ends = np.where(rng.random(n_pieces) < 0.2, ".\n", " ").tolist()
    # one draw per alphabet; piece i takes a 32-wide slice of each
    ascii_words, accented, cjk, astral = (
        [alphabet[j] for j in rng.integers(0, len(alphabet), n_pieces * 32)]
        for alphabet in (_ASCII_WORDS, _ACCENTED_WORDS, _CJK, _ASTRAL)
    )
    parts: list[str] = []
    for i in range(n_pieces):
        k, n, lo = kinds[i], lengths[i], 32 * i
        if k < 0.70:
            piece = " ".join(ascii_words[lo:lo + n + 3])
        elif k < 0.85:
            piece = " ".join(accented[lo:lo + 1 + n // 2])
        elif k < 0.95:
            piece = "".join(cjk[lo:lo + 2 * n])
        else:
            piece = "".join(astral[lo:lo + 1 + n // 3])
        parts.append(piece + ends[i])
    return "".join(parts)


def edge_case_texts() -> dict[str, str]:
    """The FIXTURES.md A1 shapes, fixed for every seed."""
    straddle = "x" * 999 + "é" + "y" * 50  # 2-byte char across byte 1000
    astral_straddle = "z" * 998 + "\U0001F600" + "w" * 40  # 4-byte char
    return {
        "edge_ascii_prose.txt": (
            "Lorem ipsum dolor sit amet, consectetur adipiscing elit. " * 11
        ).strip(),
        "edge_accented.txt": "éàçùñ déjà été\nçà où\nniño señor\n",
        "edge_tiny_no_newline.txt": "Test encodage.",
        "edge_empty.txt": "",
        "edge_leading_nul.txt": "\x00leading nul byte then text\n",
        "edge_two_chunks.txt": ("To be, or not to be, that is the question. " * 33),
        "edge_straddle.txt": straddle,
        "edge_astral_straddle.txt": astral_straddle,
    }


def md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


@dataclass
class Corpus:
    """A directory of ``.txt`` files plus what the program should make of it."""

    input_dir: str
    files: dict[str, bytes] = field(default_factory=dict)  # name -> bytes

    @property
    def total_bytes(self) -> int:
        return sum(len(b) for b in self.files.values())

    def md5(self, name: str) -> str:
        return md5(self.files[name])


def write_corpus(input_dir: str, texts: dict[str, str]) -> Corpus:
    os.makedirs(input_dir, exist_ok=True)
    corpus = Corpus(input_dir)
    for name, text in texts.items():
        data = text.encode("utf-8")
        with open(os.path.join(input_dir, name), "wb") as fh:
            fh.write(data)
        corpus.files[name] = data
    return corpus


def fresh_texts(seed: int, n_docs: int, mean_bytes: int) -> dict[str, str]:
    """``n_docs`` documents with log-normal sizes around ``mean_bytes``, plus
    the edge cases.  Every text is distinct (a seeded header line)."""
    rng = np.random.default_rng([seed, 1])
    # a narrow spread: Spark packs the largest files into one partition, so
    # a wide one would let the seed pick the tick's slowest task
    sizes = rng.lognormal(np.log(mean_bytes), 0.2, size=n_docs)
    sizes = (sizes * (n_docs * mean_bytes / sizes.sum())).astype(int)  # fixed total
    texts = edge_case_texts()
    for i, size in enumerate(sizes):
        head = f"doc {seed}-{i}\n"
        texts[f"doc_{i:05d}.txt"] = head + _paragraph(rng, max(64, int(size)))
    return texts


def rescan_texts(seed: int, n_docs: int, n_new: int, mean_bytes: int):
    """Small documents for the rescan tick: returns ``(old, new)`` text maps;
    ``old`` files are already in the tracking table, ``new`` are not.  New
    files are exactly ``mean_bytes`` long, so every seed encodes as much."""
    rng = np.random.default_rng([seed, 2])
    sizes = rng.lognormal(np.log(mean_bytes), 0.4, size=n_docs)
    sizes = (sizes * (n_docs * mean_bytes / sizes.sum())).astype(int)
    new_idx = set(rng.choice(n_docs, size=n_new, replace=False).tolist())
    old, new = {}, {}
    for i, size in enumerate(sizes):
        head = f"note {seed}-{i}\n"
        if i in new_idx:
            data = (head + _paragraph(rng, mean_bytes + 64)).encode("utf-8")
            new[f"note_{i:05d}.txt"] = data[:mean_bytes].decode("utf-8", errors="ignore")
        else:
            old[f"note_{i:05d}.txt"] = head + _paragraph(rng, max(32, int(size)))
    return old, new


_TRACKING_SCHEMA = pa.schema(
    [
        ("file_hash", pa.string()),
        ("file_path", pa.string()),
        ("file_size", pa.int64()),
        ("processed_at", pa.timestamp("us", tz="UTC")),
        ("status", pa.string()),
        ("output_file", pa.string()),
        ("error_message", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
        ("version", pa.int64()),
    ]
)


def write_tracking_snapshot(path: str, corpus: Corpus, output_dir: str) -> None:
    """A tracking table (sources/tracking.py layout) that already holds every
    file of ``corpus`` as completed -- the state earlier ticks left behind."""
    os.makedirs(path, exist_ok=True)
    names = sorted(corpus.files)
    when = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table(
        {
            "file_hash": [corpus.md5(n) for n in names],
            "file_path": [
                "file:" + os.path.join(os.path.abspath(corpus.input_dir), n)
                for n in names
            ],
            "file_size": [len(corpus.files[n]) for n in names],
            "processed_at": [when] * len(names),
            "status": ["completed"] * len(names),
            "output_file": [f"{output_dir}/processed/{n}" for n in names],
            "error_message": [None] * len(names),
            "created_at": [when] * len(names),
            "version": [0] * len(names),
        },
        schema=_TRACKING_SCHEMA,
    )
    pq.write_table(table, os.path.join(path, "part-00000-snapshot.parquet"))


# --------------------------------------------------------------------------
# query tables (same schemas as the registry's sf* directories)

_TS = pa.timestamp("us")
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["small", "red", "blue", "green", "large", "ring", "widget",
               "bolt", "gear", "plate", "nut", "frame"]


def _days(rng, lo: dt.datetime, n_days: int, size: int) -> np.ndarray:
    off = rng.integers(0, n_days, size=size).astype("timedelta64[D]")
    return np.datetime64(lo, "us") + off.astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=size), 2)


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten registry tables at ``scale`` (1.0 == the sf0.01 row
    counts: 60k lineitem, 15k orders, 10k events); returns row counts."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_vec, n_users = int(500 * scale), int(500 * scale), max(20, int(150 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{rng.choice(_PART_WORDS)} {rng.choice(_PART_WORDS)}"
            for _ in range(n_part)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(
            _days(rng, dt.datetime(1995, 1, 1), 2400, n_ord), _TS
        ),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(
            _days(rng, dt.datetime(1995, 1, 2), 2499, n_line), _TS
        ),
    })
    # events: increasing timestamps over 30 days, exponential values
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, _TS),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(_ASCII_WORDS[2:] + ["a", "the"])
    texts = [
        " ".join(rng.choice(vocab, int(rng.integers(8, 90))))
        for _ in range(n_doc)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0, 0.12, size=(n_vec, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
