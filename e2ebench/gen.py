"""Seeded input generators for the end-to-end benchmark.

Everything here is a pure function of a ``numpy.random.Generator``: the same
seed gives byte-identical inputs.  The program under test only ever sees the
files written here (an observation parquet store, sheet CSVs, a sensors
pipe-CSV, a ``documents.parquet`` corpus); the structured descriptions
returned alongside them feed the DuckDB reference in ``reference.py``, so a
sheet and its reference come from ONE source of truth.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STEP_S = 300  # nominal reading cadence: 5 minutes
T0 = datetime(2024, 3, 4)

#: (sensor id, name, kind).  "keli" is a discrete road-state code, the
#: target of IN lists; the rest are continuous readings.
SENSORS = [
    (3, "tie_1", "cont"),
    (27, "keli_1", "code"),
    (41, "ilma_1", "cont"),
    (52, "kosteus_1", "cont"),
    (66, "tuuli_1", "cont"),
    (78, "sade_1", "cont"),
]


# ---------------------------------------------------------------------------
# Observation store
# ---------------------------------------------------------------------------


@dataclass
class Store:
    stations: list[int]
    sensors: list[tuple[int, str, str]]
    days: int
    out_dir: str = ""
    rows: int = 0
    null_rows: int = 0
    short_gaps: int = 0
    long_gaps: int = 0
    gap_share: float = 0.0  # share of the nominal 5-minute slots left empty
    #: per (station, sensor name): sorted non-NULL values, for thresholds
    values: dict = field(default_factory=dict)

    def props(self) -> dict:
        return {
            "stations": len(self.stations),
            "sensors": len(self.sensors),
            "days": self.days,
            "readings": self.rows,
            "null_share": round(self.null_rows / max(self.rows, 1), 4),
            "gap_share": round(self.gap_share, 4),
            "short_gaps": self.short_gaps,
            "long_gaps": self.long_gaps,
        }


def _series_mask(rng: np.random.Generator, n: int) -> tuple[np.ndarray, int, int]:
    """Which of ``n`` nominal slots hold a reading.  Short gaps drop 1-4
    slots (a 10-25 minute hole, under the CLI's 30-minute max_minutes);
    long gaps drop 7-72 slots (40 minutes to 6 hours, over it).  Every
    series gets at least two long gaps so each condition sees no-data
    time."""
    keep = np.ones(n, dtype=bool)
    n_short = int(rng.integers(n // 400, n // 200 + 2))
    n_long = int(rng.integers(2, max(3, n // 1500 + 3)))
    for s in rng.integers(1, n - 80, size=n_short):
        keep[s : s + int(rng.integers(1, 5))] = False
    for s in rng.integers(1, n - 80, size=n_long):
        keep[s : s + int(rng.integers(7, 73))] = False
    keep[0] = keep[-1] = True
    return keep, n_short, n_long


def make_store(
    out_dir: str,
    rng: np.random.Generator,
    n_stations: int,
    days: int,
    null_share: float = 0.02,
) -> Store:
    """Write ``obs.parquet`` (tfrom, statid, seid, seval) and the sensors
    pipe-CSV under ``out_dir``.  Timestamps are unique per (statid, seid):
    nominal 5-minute slots plus 0-119 s of jitter, so the reading order
    is strict."""
    stations = [1001 + 7 * i for i in range(n_stations)]
    store = Store(stations, SENSORS, days, out_dir)
    n = days * 86400 // STEP_S
    slot = np.arange(n, dtype=np.int64)
    t0_us = int((T0 - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    cols = {"tfrom": [], "statid": [], "seid": [], "seval": []}
    dropped = 0
    for st in stations:
        for seid, name, kind in SENSORS:
            keep, ns, nl = _series_mask(rng, n)
            store.short_gaps += ns
            store.long_gaps += nl
            dropped += int((~keep).sum())
            idx = slot[keep]
            jitter = rng.integers(0, 120, size=idx.size)
            ts = t0_us + (idx * STEP_S + jitter) * 1_000_000
            phase = rng.uniform(0, 2 * np.pi)
            day = np.sin(2 * np.pi * idx / 288.0 + phase)
            if kind == "code":
                # a slowly drifting road-state code in 1..8
                walk = np.cumsum(rng.normal(0, 0.15, size=idx.size))
                val = np.clip(np.round(4.5 + 2.5 * day + walk % 3 - 1.5), 1, 8)
            else:
                base = rng.uniform(-5, 15)
                walk = np.cumsum(rng.normal(0, 0.05, size=idx.size))
                val = base + 4.0 * day + walk + rng.normal(0, 0.6, size=idx.size)
                # one decimal: thresholds sit on .x5, so no reading ever
                # equals a threshold and float widths cannot disagree
                val = np.round(val, 1)
            is_null = rng.random(idx.size) < null_share
            store.null_rows += int(is_null.sum())
            store.values[(st, name)] = np.sort(val[~is_null])
            cols["tfrom"].append(ts)
            cols["statid"].append(np.full(idx.size, st, dtype=np.int32))
            cols["seid"].append(np.full(idx.size, seid, dtype=np.int32))
            cols["seval"].append(pa.array(val, mask=is_null, type=pa.float64()))
    store.gap_share = dropped / (n * n_stations * len(SENSORS))
    table = pa.table(
        {
            "tfrom": pa.array(np.concatenate(cols["tfrom"]), type=pa.timestamp("us")),
            "statid": pa.array(np.concatenate(cols["statid"])),
            "seid": pa.array(np.concatenate(cols["seid"])),
            "seval": pa.concat_arrays(cols["seval"]),
        }
    )
    store.rows = table.num_rows
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "obs.parquet"), row_group_size=1 << 20)
    with open(os.path.join(out_dir, "sensors.csv"), "w") as f:
        for seid, name, _ in SENSORS:
            f.write(f'{seid}|{100 + seid}|"{name.upper()}"\n')
    return store


# ---------------------------------------------------------------------------
# Condition workbook
# ---------------------------------------------------------------------------


@dataclass
class Block:
    """A primary block ``s<station>#<sensor> <op> <value>`` or a secondary
    reference to another condition of the same sheet (``ref``)."""

    station: int = 0
    sensor: str = ""
    seid: int = 0
    op: str = ""
    value: object = None
    ref: str | None = None

    def dsl(self) -> str:
        if self.ref is not None:
            return self.ref
        if self.op == "in":
            return f"s{self.station}#{self.sensor} in ({', '.join(str(v) for v in self.value)})"
        return f"s{self.station}#{self.sensor} {self.op} {self.value}"


@dataclass
class Cond:
    site: str
    alias: str
    template: str  # boolean expression over {0}, {1}, ... block slots
    blocks: list[Block]

    @property
    def cond_id(self) -> str:
        return f"{self.site}_{self.alias}"

    def dsl(self) -> str:
        return self.template.format(*(b.dsl() for b in self.blocks))

    def block_aliases(self) -> list[str]:
        # the DSL names the i-th distinct block <master_alias>_<i>
        return [f"{self.alias}_{i}" for i in range(len(self.blocks))]

    def master_sql(self) -> str:
        return self.template.format(*self.block_aliases())


@dataclass
class Sheet:
    name: str
    day_from: datetime
    day_until: datetime
    conds: list[Cond]

    @property
    def time_from(self) -> datetime:
        return self.day_from

    @property
    def time_until(self) -> datetime:
        return self.day_until + timedelta(hours=23, minutes=59, seconds=59)

    def depth(self) -> int:
        lvl: dict[str, int] = {}
        for c in self.conds:  # conds are listed in dependency order
            refs = [b.ref for b in c.blocks if b.ref]
            lvl[c.alias] = 1 + max(lvl[r] for r in refs) if refs else 0
        return max(lvl.values())


#: Primary-condition shapes: (template, number of blocks).
_PRIMARY_SHAPES = [
    ("{0} AND {1}", 2),
    ("{0} OR NOT {1}", 2),
    ("{0} AND ({1} OR NOT {2})", 3),
    ("NOT ({0} AND {1}) OR {2}", 3),
    ("{0}", 1),
    ("({0} OR {1}) AND NOT {2}", 3),
]


def _in_block(rng, store: Store, station: int) -> Block:
    vals = store.values[(station, "keli_1")]
    codes = sorted({int(v) for v in rng.choice(vals, size=2)} | {int(np.median(vals))})
    return Block(station, "keli_1", 27, "in", tuple(codes))


def _primary_block(rng, store: Store, station: int) -> Block:
    seid, name, kind = SENSORS[int(rng.integers(0, len(SENSORS)))]
    vals = store.values[(station, name)]
    if kind == "code":
        return _in_block(rng, store, station)
    q = float(np.quantile(vals, rng.uniform(0.3, 0.7)))
    thr = np.floor(q * 10) / 10 + 0.05  # on the .x5 grid
    op = [">", "<", ">=", "<="][int(rng.integers(0, 4))]
    return Block(station, name, seid, op, f"{thr:.2f}")


def _distinct_blocks(rng, store, k: int, force_in: bool = False) -> list[Block]:
    out: list[Block] = []
    seen: set[str] = set()
    while len(out) < k:
        st = store.stations[int(rng.integers(0, len(store.stations)))]
        if force_in and not out:
            b = _in_block(rng, store, st)
        else:
            b = _primary_block(rng, store, st)
        if b.dsl() not in seen:  # the DSL would fold repeated blocks
            seen.add(b.dsl())
            out.append(b)
    return out


def make_sheet(rng, store: Store, name: str, site: str, n_primary: int,
               diamond: bool, first_shape: int = 0) -> Sheet:
    """A sheet of ``n_primary`` primary conditions (shapes taken in turn
    from ``first_shape``) plus, when asked, a diamond of secondaries: the
    last primary -> d1, d2 -> d3, which is also a depth-2 chain.  The first
    primary always carries an IN list."""
    conds: list[Cond] = []
    for i in range(n_primary):
        tmpl, k = _PRIMARY_SHAPES[(first_shape + i) % len(_PRIMARY_SHAPES)]
        conds.append(Cond(site, f"p{i}", tmpl, _distinct_blocks(rng, store, k, force_in=(i == 0))))

    def extra():
        return _distinct_blocks(rng, store, 1)[0]

    if diamond:
        top = f"p{n_primary - 1}"
        conds.append(Cond(site, "d1", "{0} AND {1}", [Block(ref=top), extra()]))
        conds.append(Cond(site, "d2", "NOT {0} AND {1}", [Block(ref=top), extra()]))
        conds.append(Cond(site, "d3", "{0} OR {1}", [Block(ref="d1"), Block(ref="d2")]))
    d0 = T0 + timedelta(days=1)
    d1 = T0 + timedelta(days=store.days - 2)
    return Sheet(name, d0, d1, conds)


def write_sheet_csv(sheet: Sheet, path: str) -> None:
    """The reference sheet layout: labels, dates (d.m.Y), headers, rows."""
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["start", "end"])
        w.writerow([f"{d.day}.{d.month}.{d.year}" for d in (sheet.day_from, sheet.day_until)])
        w.writerow(["site", "master_alias", "condition"])
        for c in sheet.conds:
            w.writerow([c.site, c.alias, c.dsl()])


def sheet_props(sheets: list[Sheet]) -> dict:
    mix: dict[str, int] = {"and": 0, "or": 0, "not": 0, "in": 0, "secondary": 0}
    for s in sheets:
        for c in s.conds:
            t = c.template.lower()
            for op in ("and", "or", "not"):
                mix[op] += f" {op} " in f" {t} ".replace("(", " ").replace(")", " ")
            mix["in"] += any(b.op == "in" for b in c.blocks)
            mix["secondary"] += any(b.ref for b in c.blocks)
    return {
        "sheets": len(sheets),
        "conditions": sum(len(s.conds) for s in sheets),
        "condition_mix": mix,
        "secondary_depth": max(s.depth() for s in sheets),
    }


# ---------------------------------------------------------------------------
# Text corpus
# ---------------------------------------------------------------------------

_WORDS = (
    "spark line column order small sort fast value scan hash slow group batch "
    "agg filter query big key window row part table stream merge data join "
    "vector customer road sensor state cold wet dry frost snow ice salt lane"
).split()
_MARKERS = {
    "en": ["the", "and", "is", "of"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
    "es": ["el", "que", "y", "es"],
}


@dataclass
class Corpus:
    docs: int = 0
    corpus_docs: int = 0
    bench_docs: int = 0
    clone_clusters: list[int] = field(default_factory=list)
    #: doc ids the reference must drop, by stage
    clones: list[int] = field(default_factory=list)
    neardups: list[int] = field(default_factory=list)
    contaminated: list[int] = field(default_factory=list)

    def props(self) -> dict:
        return {
            "documents": self.docs,
            "corpus_docs": self.corpus_docs,
            "bench_docs": self.bench_docs,
            "clone_cluster_sizes": sorted(self.clone_clusters, reverse=True),
            "near_dup_edits": len(self.neardups),
            "span_plants": len(self.contaminated),
        }


def _text(rng, lang: str, n_words: int) -> str:
    words = list(rng.choice(_WORDS, size=n_words))
    marks = _MARKERS.get(lang, [])
    for _ in range(max(2, n_words // 6)) if marks else ():
        words.insert(int(rng.integers(0, len(words) + 1)), marks[int(rng.integers(0, 4))])
    return " ".join(words) + ("." if rng.random() < 0.5 else "")


def make_corpus(path: str, rng: np.random.Generator, n_docs: int) -> Corpus:
    """``documents.parquet`` in the testdata schema (doc_id, text, lang,
    source, n_chars).  The registry's pretraining_mix reads the doc_id % 10
    slice as its corpus and doc_id % 97 as its benchmark, so every planted
    relation lives on % 10 ids: exact clone clusters, near-dup edits (one
    appended word), and docs quoting a 12-word run of a benchmark doc."""
    langs = ["en"] * 5 + ["de", "fr", "es", "zh"]
    texts: list[str] = []
    doc_langs: list[str] = []
    for i in range(n_docs):
        # docs 0 and 10 seed the registry fixture's own planted composites,
        # which only reach their dropping stage from an English seed
        lang = "en" if i in (0, 10) else langs[int(rng.integers(0, len(langs)))]
        # doc 0 is the fixture's benchmark seed: its planted quotes need a
        # long text to reach a selected span window
        n_w = 90 if i == 0 else int(rng.integers(25, 70))
        if lang == "zh":
            t = "".join(chr(0x4E00 + int(c)) for c in rng.integers(0, 2000, size=n_w * 2))
        else:
            t = _text(rng, lang, n_w)
        if i == 0:
            # the fixture's decontamination plant 9000030 is words 3-26 of
            # this text: English markers inside that slice keep it English,
            # so it passes the clean stage and dies where it is meant to
            words = t.split(" ")
            words[5:5], words[15:15] = ["the"], ["and"]
            t = " ".join(words)
        texts.append(t)
        doc_langs.append(lang)
    c = Corpus(docs=n_docs)
    ids = np.arange(n_docs)
    c.corpus_docs = int((ids % 10 == 0).sum())
    c.bench_docs = int((ids % 97 == 0).sum())
    # English, non-benchmark corpus ids: the pool the plants come from
    pool = [int(i) for i in ids
            if i % 10 == 0 and i % 97 != 0 and i != 10 and doc_langs[i] == "en"]
    rng.shuffle(pool)
    bench_en = [int(i) for i in ids if i % 97 == 0 and doc_langs[i] == "en"]
    n_clusters = max(2, len(pool) // 25)
    take = iter(pool)
    for _ in range(n_clusters):
        size = int(rng.integers(2, 6))
        members = sorted(next(take) for _ in range(size))
        for m in members[1:]:
            texts[m] = texts[members[0]]
            c.clones.append(m)
        c.clone_clusters.append(size)
    for _ in range(max(2, len(pool) // 25)):
        root, dup = next(take), next(take)
        texts[dup] = texts[root] + " " + _WORDS[int(rng.integers(0, len(_WORDS)))]
        c.neardups.append(max(root, dup))  # the higher id loses
    for _ in range(max(2, len(pool) // 25) if bench_en else 0):
        victim = next(take)
        src = texts[bench_en[int(rng.integers(0, len(bench_en)))]].rstrip(".").split(" ")
        s = int(rng.integers(0, max(1, len(src) - 12)))
        quote = " ".join(src[s : s + 12])
        texts[victim] = _text(rng, "en", 10).rstrip(".") + " " + quote + " tail."
        c.contaminated.append(victim)
    table = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(doc_langs),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return c
