"""Seeded, on-disk-cached inputs for the benchmark workloads.

Every corpus is a pure function of ``(workload, seed)`` and is written
once under ``.bench_work/inputs/`` in the checkout; later runs with the
same seed reuse it. Generation is never inside a timed region.

Transcripts come from ``ocr_lib_spark.sources.synth.generate_transcripts``
(Zipf conversation lengths, nine payload cases, four of them constant
strings, so about 44% of payloads are exact duplicates), cut to a fixed
total turn count so that every seed does the same amount of work.

The curation battery reads the ten ``sf`` tables the query plans expect
(TPC-H-like star schema plus events, documents and embeddings). They
are generated here to match the sf0.001 fixture the query plans were
built on (TESTDATA.md) in row counts, column types, value ranges and the
distributions the plans are sensitive to (see README.md), so the
benchmark needs no data outside its checkout.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from ocr_lib_spark.sources import synth

#: turns in the 4-core extraction corpus; the 1-core leg reads a quarter
BULK_TURNS = 48_000
BULK_FILES = 16
#: turns in the crash/resume corpus; with ``zipf_a=1.2`` and conversations
#: of up to 2000 turns, the largest holds about 12% of them
SKEW_TURNS = 16_000
SKEW_FILES = 8
#: scale and seed of the battery's tables (lineitem = 6e6 * sf rows)
BATTERY_SF = 0.001
BATTERY_TABLE_SEED = 0
#: part of every cache key; raise it when a generator changes
INPUTS_VERSION = 2
#: the documents table's vocabulary, as in the sf0.001 fixture
DOC_WORDS = (
    "agg batch column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark table value vector window the a big stream"
).split()


def _enough_convs(seed: int, n_turns: int, zipf_a: float, max_turns: int) -> int:
    """The fewest conversations whose lengths reach ``n_turns``.
    ``generate_transcripts`` draws its lengths first, from
    ``default_rng(seed)``; drawing them here spares generating a corpus
    twice the size needed."""
    lens = np.minimum(np.random.default_rng(seed).zipf(zipf_a, size=1 << 16) * 3, max_turns)
    # a draw of a heavy tail can overflow ``* 3``; the generator then
    # makes an empty conversation
    lens = np.maximum(lens, 0)
    return int(np.searchsorted(np.cumsum(lens), n_turns)) + 1


def transcripts(seed: int, n_turns: int, zipf_a: float = 1.6,
                max_turns: int = 400) -> pd.DataFrame:
    """The first ``n_turns`` rows of ``generate_transcripts(seed)``
    (conv_id, turn_idx, role, text, tool, ts); only the last conversation
    is cut short."""
    n_convs = _enough_convs(seed, n_turns, zipf_a, max_turns)
    while True:
        pdf = synth.generate_transcripts(n_convs=n_convs, seed=seed, zipf_a=zipf_a,
                                         max_turns=max_turns)
        if len(pdf) >= n_turns:
            break
        n_convs *= 2
    # int32 and microseconds: the types Spark reads back from parquet
    return pdf.iloc[:n_turns].astype({"turn_idx": "int32", "ts": "datetime64[us]"})


def corpus_stats(pdf: pd.DataFrame) -> dict:
    sizes = pdf.groupby("conv_id").size()
    return {
        "turns": int(len(pdf)),
        "conversations": int(len(sizes)),
        "text_bytes": int(pdf["text"].str.len().sum()),
        "exact_dup_payload_share": round(float(pdf["text"].duplicated().mean()), 4),
        "largest_conversation_share": round(float(sizes.max() / len(pdf)), 4),
    }


def write_files(pdf: pd.DataFrame, path: Path, n_files: int) -> None:
    """Balanced multi-file parquet dir: row ``i`` goes to file ``i % n``,
    so every file holds the same mix of conversations and payload cases."""
    path.mkdir(parents=True)
    part = np.arange(len(pdf)) % n_files
    for k in range(n_files):
        pdf[part == k].to_parquet(path / f"part-{k:05d}.parquet", index=False)


# --- battery tables ----------------------------------------------------------

def sf_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten tables the query plans read, scaled like the TESTDATA.md
    fixtures (lineitem = 6e6 * sf rows; documents/embeddings 500 rows
    below sf0.1)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 500)
    n_line, n_ev = 4 * n_ord, max(int(1_000_000 * sf), 1000)
    n_doc = n_emb = 500
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    adj = np.array(["cold", "small", "large", "blue", "red", "green", "shiny",
                    "old", "new", "dark", "light"])
    noun = np.array(["widget", "bolt", "rod", "gear", "panel", "valve"])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    days = lambda lo, hi, n: (  # noqa: E731
        pd.Timestamp(lo) + pd.to_timedelta(rng.integers(0, (pd.Timestamp(hi) - pd.Timestamp(lo)).days + 1, n), unit="D"))
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days("1995-01-01", "2001-12-01", n_line),
    })
    n_users = max(n_ev // 66, 15)
    gaps = rng.exponential(30 * 24 * 3600 / n_ev, n_ev)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    docs = [" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 101)))) for _ in range(n_doc)]
    # one document in twenty is another one plus " dup" (a near-duplicate)
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        docs[i] = docs[(i + int(rng.integers(1, n_doc))) % n_doc] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": docs,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(d) for d in docs], dtype="int64"),
    })
    # unit vectors in random directions, labels drawn independently of them
    vec = rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    label = rng.integers(0, 10, n_emb)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vec),
        "label": label.astype("int32"),
    })
    for name in ("orders", "lineitem"):
        for c in t[name].columns:
            if str(t[name][c].dtype).startswith("datetime64"):
                t[name][c] = t[name][c].astype("datetime64[us]")
    return t


# --- cache -------------------------------------------------------------------

def _cached(root: Path, key: str, build) -> tuple[Path, dict]:
    """Build ``root/key`` once: ``build(tmp_dir) -> stats``; a ``stats.json``
    written last marks the entry complete."""
    path = root / key
    stats_file = path / "stats.json"
    if stats_file.exists():
        return path, json.loads(stats_file.read_text())
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    stats = build(path)
    stats_file.write_text(json.dumps(stats))
    return path, stats


def bulk_corpus(root: Path, seed: int) -> tuple[Path, dict]:
    """``full/`` (4-core leg) and ``quarter/`` (1-core leg) parquet dirs,
    plus ``sample.parquet`` for the reference-oracle check."""
    n_turns, n_files = BULK_TURNS, BULK_FILES

    def build(path: Path) -> dict:
        pdf = transcripts(seed, n_turns)
        write_files(pdf, path / "full", n_files)
        quarter = pdf.iloc[: n_turns // 4]
        write_files(quarter, path / "quarter", max(n_files // 4, 1))
        rng = np.random.default_rng(seed + 1)
        pdf.iloc[np.sort(rng.choice(n_turns, min(300, n_turns), replace=False))].to_parquet(
            path / "sample.parquet", index=False)
        return {**corpus_stats(pdf), "files": n_files, "quarter": corpus_stats(quarter)}
    return _cached(root, f"v{INPUTS_VERSION}-bulk_extract-{seed}-{n_turns}", build)


def skewed_corpus(root: Path, seed: int) -> tuple[Path, dict]:
    n_turns, n_files = SKEW_TURNS, SKEW_FILES

    def build(path: Path) -> dict:
        pdf = transcripts(seed, n_turns, zipf_a=1.2, max_turns=2000)
        write_files(pdf, path / "input", n_files)
        return {**corpus_stats(pdf), "files": n_files}
    return _cached(root, f"v{INPUTS_VERSION}-crash_resume-{seed}-{n_turns}", build)


def battery_tables(root: Path) -> tuple[Path, dict]:
    """The battery's tables. They are the same for every run (the run's
    seed only permutes the query order), so the DuckDB oracle digests
    cached beside them are computed once per checkout."""
    seed, sf = BATTERY_TABLE_SEED, BATTERY_SF

    def build(path: Path) -> dict:
        tables = sf_tables(seed, sf)
        for name, df in tables.items():
            df.to_parquet(path / f"{name}.parquet", index=False)
        return {name: int(len(df)) for name, df in tables.items()} | {
            "files": len(tables),
            "bytes": sum(p.stat().st_size for p in path.glob("*.parquet")),
        }
    return _cached(root, f"v{INPUTS_VERSION}-curation_battery-{seed}-sf{sf}", build)
