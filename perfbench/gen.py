"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from the
workload seed, so the same seed gives byte-identical inputs:

* ``write_fixtures`` writes the ten star-schema / stream / text /
  vector tables the operator queries read (the same schemas as the
  engine's fixture tables, see FIXTURES.md), at a size set by
  ``FIXTURE_ROWS``.
* ``posting_days`` builds the ``etl_daily`` batches: documents-shaped
  job postings whose text mixes skill-dictionary terms into filler
  words, with a seeded share of repeats of earlier postings, and a
  last day that replays an earlier batch verbatim.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table. Sized so a warm pass over the query set stays
# short enough for several passes per run (see README.md, "Sizing").
FIXTURE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = "blue red green black white small large steel brass".split()
THINGS = "anvil bolt widget ring gear nut spring valve".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _text(rng: np.random.Generator, n_words: int, vocab: list[str]) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [_text(rng, int(rng.integers(10, 100)), WORDS) for _ in range(n)]
    # Plant near-duplicates (one word changed) and a few exact copies,
    # so the dedup and near-dup operators have pairs to find.
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        if i == j:
            continue
        w = texts[j].split()
        if len(w) > 20 and rng.random() < 0.8:
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(w)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = FIXTURE_ROWS
    n_cust, n_supp, n_part = r["customer"], r["supplier"], r["part"]
    n_ord, n_line, n_ev = r["orders"], r["lineitem"], r["events"]
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{COLORS[a]} {THINGS[b]}"
                for a, b in zip(rng.integers(0, 9, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    # Events arrive as a Poisson stream over 30 days, in event_id order.
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, r["documents"])
    n_emb = r["embeddings"]
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write_fixtures(out_dir: str, seed: int) -> dict[str, int]:
    """Write every fixture table as one parquet file; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# etl_daily postings
# ---------------------------------------------------------------------------

SOURCES = ["pracuj.pl", "theprotocol.it", "justjoin.it"]
# Share of a posting's words drawn from the skill dictionary; the rest
# are filler words.
TERM_SHARE = 0.15


def single_word_terms() -> list[str]:
    """Dictionary terms the pipeline's space tokenizer can match."""
    from jobminer_spark.data.skill_dictionary import dictionary_rows

    return sorted({t for t, _c, _r in dictionary_rows() if " " not in t})


def posting_days(
    seed: int, n_days: int, per_day: int, repeat_share: float
) -> list[dict]:
    """Day batches for ``etl_daily``; the last one replays the first.

    Each day holds ``per_day`` postings: fresh ones, plus a seeded share
    copied verbatim from earlier days (re-scraped listings). Every
    posting has its own ``doc_id`` (the pipeline's job id), so the
    expected output is exact: a day inserts its fresh postings, and
    each inserted posting yields one skill row per distinct dictionary
    term in its text. Returns, per day, the columns plus
    ``expected_new`` and ``expected_skill_rows``."""
    rng = np.random.default_rng(seed + 7919)
    terms = single_word_terms()
    term_set = set(terms)
    days: list[dict] = []
    seen: list[tuple[int, str, str, str]] = []
    next_id = 0
    for _day in range(n_days - 1):
        n_rep = int(per_day * repeat_share) if seen else 0
        rows = [seen[i] for i in rng.choice(len(seen), n_rep, replace=False)] if n_rep else []
        fresh = []
        for _ in range(per_day - n_rep):
            n = int(rng.integers(20, 80))
            words = [
                terms[t] if is_term else WORDS[w]
                for is_term, t, w in zip(
                    rng.random(n) < TERM_SHARE,
                    rng.integers(0, len(terms), n),
                    rng.integers(0, len(WORDS), n),
                )
            ]
            src = SOURCES[int(rng.integers(0, len(SOURCES)))]
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            fresh.append((next_id, " ".join(words), lang, src))
            next_id += 1
        seen.extend(fresh)
        rows = fresh + rows
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        days.append(
            {
                "rows": rows,
                "expected_new": len(fresh),
                "expected_skill_rows": sum(
                    len(set(r[1].split()) & term_set) for r in fresh
                ),
            }
        )
    days.append(
        {"rows": list(days[0]["rows"]), "expected_new": 0, "expected_skill_rows": 0}
    )
    return days


def write_postings(out_dir: str, rows: list[tuple[int, str, str, str]]) -> None:
    """One day's batch as a documents-shaped table at
    ``out_dir/documents.parquet`` (the layout ``run_pipeline`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))


def link_inputs(src_dir: str, dst_dir: str) -> None:
    """A fresh directory of symlinks to ``src_dir``'s files: the same
    data under a new path, so per-path scenario memos start cold."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in sorted(os.listdir(src_dir)):
        os.symlink(os.path.join(os.path.abspath(src_dir), name), os.path.join(dst_dir, name))

