"""Seeded input generators for the benchmark.

Everything the program receives is made here from ``--seed``: the same
seed gives byte-identical files, a different seed gives different ones
(``test_perfbench.py`` pins both). Two families:

* ``write_sf_tables`` — the ten tables of the repo's sf fixtures
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``) with their value domains, at a stated scale factor.
  The registry queries and their DuckDB oracles run on these.
* ``population_drops`` / ``render_drop`` — agency population reports,
  one *drop* per (state, species, year) delivery, rendered to multi-page
  PDFs with ``sources.minipdf.write_pdf``. Drops carry ``Total`` footers,
  junk ``gmu_list`` cells, empty herd names (the ``DAU_`` fallback) and
  re-deliveries of earlier seasons with revised estimates.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- star schema + text/vector tables -----------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "new", "old", "blue", "red"]
PART_NOUN = ["widget", "plate", "gizmo", "ring", "anvil", "gear", "rod", "bolt"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, n_days: int, rng: np.random.Generator, n: int):
    """Midnight timestamps (µs since epoch) uniform over ``n_days``."""
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    days = base + rng.integers(0, n_days, n)
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal money values as the nearest doubles (cents / 100)."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_sf_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale ``sf`` (row counts as in the
    repo's sf fixtures: lineitem = 6M × sf)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
    }))
    keys = np.arange(n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _days_us(dt.date(1995, 1, 1), 2404, rng, n_ord),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _days_us(dt.date(1995, 1, 2), 2499, rng, n_line),
    }))
    # events: a time-ordered stream over 30 days (exponential gaps)
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    ts0 = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.floor(rng.exponential(5000.0, n_ev)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    # documents: random word runs; ~5% are an earlier document + " dup"
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in rng.integers(0, 5, N_DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    }))


# --- agency population reports -------------------------------------------

STATES = ["co", "wy", "mt", "id", "ut", "nm"]
SPECIES = ["elk", "deer", "pronghorn"]
YEARS = list(range(2010, 2025))
# header dialects per species, as the agencies print them; sanitized
# they hit operators.normalize's GMU patterns and ratio-header dialects
HEADERS = {
    "elk": ["DAU", "Herd Name", "GMUs", "Post Hunt Estimate", "Bulls/100 Cows"],
    "deer": ["DAU", "Herd Name", "Game Management Units", "Post Hunt Estimate",
             "Bucks/100 Does"],
    "pronghorn": ["DAU", "Herd Name", "Game Management Units",
                  "Post Hunt Estimate", "Males/100 Females"],
}
HERD_WORDS = ["Bear", "Creek", "Elk", "Park", "White", "River", "Piney",
              "Rattlesnake", "Mesa", "North", "South", "Sand", "Wash", "Basin"]
HERDS_PER_DROP = 60
PDFS_PER_DROP = 2
ROWS_PER_PAGE = 20  # data rows per page; 30 herds per PDF → 2 pages
# the page size of the short-page probe (see workloads.short_page_misreads)
SHORT_PAGE_ROWS = 4
JUNK_GMUS = ["see map", "3,4a", "", "N/A", "1 & 2"]


@dataclass(frozen=True)
class Drop:
    """One delivery: the report cells exactly as printed in its PDFs."""

    state: str
    species: str
    year: int
    rev: int
    # per PDF: rows of [dau, herd name, gmu list, estimate, ratio];
    # the last row of each PDF is its "Total" footer
    pdf_rows: tuple[tuple[tuple[str, ...], ...], ...]

    @property
    def key(self) -> str:
        return f"{self.state}/{self.species}/population/{self.year}/r{self.rev}"


def _herds(state: str, species: str, seed: int) -> list[tuple[str, str, list[int]]]:
    """The (state, species) herd plan: DAU id, name, disjoint GMU units."""
    rng = np.random.default_rng([seed, 2, STATES.index(state), SPECIES.index(species)])
    units = rng.permutation(np.arange(1, 400))
    herds, at = [], 0
    for h in range(HERDS_PER_DROP):
        k = int(rng.integers(1, 6))
        name = " ".join(HERD_WORDS[w] for w in rng.integers(0, len(HERD_WORDS), 2))
        herds.append((f"{species[0].upper()}-{h + 1}", name, sorted(units[at:at + k].tolist())))
        at += k
    return herds


def _gmu_cell(units: list[int], rng: np.random.Generator) -> str:
    if rng.random() < 0.05:
        return JUNK_GMUS[int(rng.integers(0, len(JUNK_GMUS)))]
    sep = ", " if rng.random() < 0.5 else ","
    return sep.join(f"0{u}" if rng.random() < 0.1 else str(u) for u in units)


def _drop(state: str, species: str, year: int, rev: int, seed: int, serial: int) -> Drop:
    rng = np.random.default_rng([seed, 3, serial])
    herds = _herds(state, species, seed)
    rows = []
    for dau, name, units in herds:
        est = int(rng.integers(100, 60_000))
        rows.append((
            dau,
            "" if rng.random() < 0.2 else name,
            _gmu_cell(units, rng),
            "n/a" if rng.random() < 0.03 else f"{est:,}",
            "" if rng.random() < 0.03 else f"{rng.integers(100, 700) / 10:.1f}",
        ))
    per_pdf = HERDS_PER_DROP // PDFS_PER_DROP
    pdfs = []
    for p in range(PDFS_PER_DROP):
        part = rows[p * per_pdf:(p + 1) * per_pdf]
        # the footer lists every unit of the report: kept by mistake it
        # would explode into duplicate keys
        all_units = sorted(u for _, _, units in herds[p * per_pdf:(p + 1) * per_pdf] for u in units)
        total = sum(int(r[3].replace(",", "")) for r in part if r[3] != "n/a")
        footer = ("Total", "", ",".join(map(str, all_units)), f"{total:,}", "")
        pdfs.append(tuple(part) + (footer,))
    return Drop(state, species, year, rev, tuple(pdfs))


def population_drops(seed: int, n: int, redeliver: float = 0.25) -> list[Drop]:
    """``n`` drops in delivery order: new (state, species, year) seasons,
    and with probability ``redeliver`` a revised re-delivery of an
    earlier one (same units, new estimates and ratios)."""
    rng = np.random.default_rng([seed, 4])
    seasons = [(s, sp, y) for s in STATES for sp in SPECIES for y in YEARS]
    order = [seasons[i] for i in rng.permutation(len(seasons))]
    delivered: list[tuple[str, str, int]] = []
    revs: dict[tuple[str, str, int], int] = {}
    drops = []
    for serial in range(n):
        if delivered and (rng.random() < redeliver or len(delivered) == len(order)):
            season = delivered[int(rng.integers(0, len(delivered)))]
        else:
            season = order[len(delivered)]
            delivered.append(season)
        rev = revs.get(season, -1) + 1
        revs[season] = rev
        drops.append(_drop(*season, rev, seed, serial))
    return drops


def drop_pages(drop: Drop, pdf: int, rows_per_page: int = ROWS_PER_PAGE) -> list[list[list[str]]]:
    """The pages of the drop's ``pdf``-th report: the header on page one,
    ``rows_per_page`` data rows a page, the footer kept with data."""
    body = [list(r) for r in drop.pdf_rows[pdf]]
    pages = [body[i:i + rows_per_page] for i in range(0, len(body), rows_per_page)]
    if len(pages) > 1 and len(pages[-1]) == 1:
        pages[-2].extend(pages.pop())
    pages[0].insert(0, HEADERS[drop.species])
    return pages


def render_drop(drop: Drop, raw_root: str) -> str:
    """Write the drop's PDFs (multi-page, odd parts Flate-compressed)
    under ``raw_root``; returns the drop directory."""
    from bow_hunter_pipeline_spark.sources.minipdf import write_pdf

    out = os.path.join(raw_root, drop.key)
    os.makedirs(out, exist_ok=True)
    for p in range(len(drop.pdf_rows)):
        name = f"{drop.state}_{drop.species}_population_{drop.year}_part{p + 1}.pdf"
        with open(os.path.join(out, name), "wb") as fh:
            fh.write(write_pdf(drop_pages(drop, p), compress=bool(p % 2)))
    return out
