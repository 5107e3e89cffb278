"""Seeded inputs for every workload.

Two families of input, both a pure function of the seed:

- ``write_tables``: the ten TPC-H-ish tables the registry keys read
  (``downloader_spark.io.TABLES``), with the row counts, value
  domains and planted near-duplicate documents of the shared sf
  fixtures, written as one-row-group parquet files;
- ``IngestInputs``: the upstream the ingest loop scrapes — RouteViews
  v4/v6 creation logs and pfx2as payloads, and a Maxmind snapshot that
  changes on some days only;
- ``doc_deltas``: daily document deltas with planted near-duplicate
  pairs.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
DUP_SHARE = 0.05  # share of documents that are near-copies of another


def _write(path: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n: int) -> list[str]:
    """``n`` documents of 10-100 words drawn from the fixture vocabulary,
    the last ``DUP_SHARE`` of them near-copies (`` dup`` appended) of
    an earlier document."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    n_dup = int(n * DUP_SHARE)
    for i in range(n - n_dup, n):
        texts[i] = texts[int(rng.integers(0, n - n_dup))] + " dup"
    return texts


def write_tables(out_dir: str, sf: float, seed: int, names=None) -> str:
    """Write the registry tables (all ten, or ``names``) at scale
    factor ``sf``.  Each table draws from its own seeded stream, so a
    table's bytes do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    for i, (name, make) in enumerate(_TABLES.items()):
        if names is None or name in names:
            rng = np.random.default_rng([seed, int(sf * 1e6), i])
            _write(os.path.join(out_dir, f"{name}.parquet"),
                   make(rng, sf, n_cust, n_supp, n_part, n_ord))
    return out_dir


def _region(rng, sf, *_):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}


def _nation(rng, sf, *_):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng, sf, n_cust, *_):
    return {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}


def _supplier(rng, sf, n_cust, n_supp, *_):
    return {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}


def _part(rng, sf, n_cust, n_supp, n_part, _n_ord):
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return {"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}


def _orders(rng, sf, n_cust, n_supp, n_part, n_ord):
    return {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}


def _lineitem(rng, sf, n_cust, n_supp, n_part, n_ord):
    n = max(6000, int(6_000_000 * sf))
    return {"l_orderkey": rng.integers(0, n_ord, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)}


def _events(rng, sf, *_):
    n = max(1000, int(1_000_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return {"event_id": np.arange(n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), n),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def _documents(rng, sf, *_):
    n = max(500, int(50_000 * sf))
    texts = doc_texts(rng, n)
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, sf, *_):
    n = max(500, int(20_000 * sf))
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32)}


# same names and order as downloader_spark.io.TABLES
_TABLES = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


# ---------------------------------------------------------------- ingest


def _pfx2as(rng, v6: bool, n: int = 400) -> bytes:
    """A gzipped pfx2as table: ``prefix<TAB>length<TAB>asn`` rows."""
    rows = []
    for a, b, ln, asn in zip(rng.integers(1, 224, n), rng.integers(0, 256, n),
                             rng.integers(8, 25, n), rng.integers(1, 65000, n)):
        prefix = f"2001:{a:x}{b:02x}::" if v6 else f"{a}.{b}.0.0"
        rows.append(f"{prefix}\t{ln + 24 if v6 else ln}\t{asn}")
    return gzip.compress(("\n".join(rows) + "\n").encode(), mtime=0)


class IngestInputs:
    """The archive's upstream side, laid out under ``root`` and served
    to the ingest loop through ``file://`` URLs.  Every method appends
    to or rewrites files as the upstream would; ``seq`` holds each
    RouteViews family's highest seqnum and ``items`` every file its
    creation log lists."""

    LOG_HEADER = "".join(f"# header line {i}\n" for i in range(13))

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.rng = np.random.default_rng([seed, 7])
        # early enough in its month that a few daily cycles stay in it
        self.day0 = dt.date(2024, int(self.rng.integers(1, 13)), int(self.rng.integers(1, 25)))
        self.seq = {"v4": 3000, "v6": 5000}
        self.items: dict[str, list[tuple[int, str]]] = {"v4": [], "v6": []}
        self.log = {"v4": self.LOG_HEADER, "v6": self.LOG_HEADER}
        self.maxmind_bytes = b""
        os.makedirs(root, exist_ok=True)

    def log_url(self, fam: str) -> str:
        return "file://" + os.path.join(self.root, f"routeviews{fam}", "pfx2as-creation.log")

    def maxmind_url(self) -> str:
        return "file://" + os.path.join(self.root, "maxmind", "GeoLite2-City.tar.gz")

    def add_routeviews(self, fam: str, day: dt.date, n: int) -> list[tuple[int, str]]:
        """Publish ``n`` new pfx2as files for ``day`` upstream and append
        them to the family's creation log; returns their work items."""
        items = []
        base = os.path.join(self.root, f"routeviews{fam}")
        for k in range(n):
            self.seq[fam] += 1
            rel = f"{day:%Y/%m}/routeviews-rv2-{day:%Y%m%d}-{k * 2:02d}00.pfx2as.gz"
            path = os.path.join(base, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(_pfx2as(self.rng, fam == "v6"))
            ts = int(dt.datetime(day.year, day.month, day.day, 2 * k,
                                 tzinfo=dt.timezone.utc).timestamp())
            self.log[fam] += f"{self.seq[fam]}\t{ts}\t{rel}\n"
            items.append((self.seq[fam], "file://" + path))
        self.items[fam] += items
        with open(os.path.join(base, "pfx2as-creation.log"), "w") as f:
            f.write(self.log[fam])
        return items

    def set_maxmind(self, change: bool) -> None:
        """Rewrite the snapshot with new content, or leave its bytes as
        they were (an unchanged day)."""
        if change or not self.maxmind_bytes:
            self.maxmind_bytes = gzip.compress(self.rng.bytes(2048), mtime=0)
            path = self.maxmind_url()[len("file://"):]
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(self.maxmind_bytes)


def doc_deltas(
    docs_path: str, seed: int, n_deltas: int, per_delta: int, planted_per_delta: int
) -> tuple[list, list[tuple[int, int]]]:
    """Split a sample of the documents table into ``n_deltas`` daily
    deltas and plant near-duplicates: each delta after the first
    carries ``planted_per_delta`` new documents that copy one from an
    earlier delta with one word appended.  Returns the deltas (pyarrow
    tables in the documents schema) and the planted
    ``(new_doc_id, earlier_doc_id)`` pairs."""
    rng = np.random.default_rng([seed, 11])
    docs = pq.read_table(docs_path)
    # the table's own ``dup`` near-copies stay out, so every matched
    # pair in the deltas is one planted here
    keep = [i for i, t in enumerate(docs.column("text").to_pylist())
            if not t.endswith(" dup")]
    pick = rng.choice(keep, n_deltas * per_delta, replace=False)
    base = docs.take(pa.array(pick))
    next_id = max(docs.column("doc_id").to_pylist()) + 1
    deltas, planted, earlier = [], [], []
    for d in range(n_deltas):
        part = base.slice(d * per_delta, per_delta)
        if d > 0:
            src = rng.choice(len(earlier), planted_per_delta, replace=False)
            rows = [earlier[i] for i in src]
            extra = {
                "doc_id": pa.array(range(next_id, next_id + len(rows)), pa.int64()),
                "text": [r["text"] + " " + VOCAB[int(rng.integers(len(VOCAB)))] for r in rows],
                "lang": [r["lang"] for r in rows],
                "source": [r["source"] for r in rows],
            }
            extra["n_chars"] = pa.array([len(t) for t in extra["text"]], pa.int64())
            planted += [(next_id + j, r["doc_id"]) for j, r in enumerate(rows)]
            next_id += len(rows)
            part = pa.concat_tables([part, pa.table(extra, schema=docs.schema)])
        earlier += part.to_pylist()
        deltas.append(part)
    return deltas, planted
