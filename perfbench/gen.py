"""Seeded input generators for the benchmark.

Two families, both pure NumPy/pandas/pyarrow (no Spark), so the program
under test only ever sees the files written here:

- ``write_star_schema``: the ten parquet tables the query registry reads
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column types, value domains and row-count
  ratios of the registry's sf-scaled test tables.
- ``weekly_batches``: Sunday-anchored weekly landings of the four domain
  tables (``schemas.DOMAIN_TABLES``) with injected NULLs, tied modes,
  skewed categories, duplicate loan rows under new ids, and a seeded
  share of landings that revise an earlier week (late data).

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
DAY_US = 86_400 * 1_000_000


def _ts_us(days: np.ndarray, base: dt.date) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((days.astype(np.int64) + epoch) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (lineitem ≈ 6M·sf
    rows). Documents and embeddings keep a floor of 500 rows so the
    corpus operators have clusters and near-duplicates at every scale."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, n_cust // 10)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us(rng.integers(0, 2_404, n_ord), dt.date(1995, 1, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us(rng.integers(1, 2_499, n_line), dt.date(1995, 1, 1)),
    })
    # events: one month of exponential inter-arrival times, ordered ids
    gaps = rng.exponential(30 * 86_400 / n_evt, n_evt)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + (
        (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * DAY_US
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary. About 5% are
    near-duplicates of an earlier document (text + " dup", so chains
    occur) and about 1% exact copies, which the dedup operators find."""
    texts: list[str] = []
    kind = rng.random(n)
    lengths = rng.integers(10, 101, n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, lengths[i])))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors around ten weakly separated centres."""
    labels = rng.integers(0, N_LABELS, n)
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.35 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_star_schema(seed: int, sf: float, out_dir: str) -> int:
    """Write the ten tables as ``<out_dir>/<table>.parquet``; returns the
    bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in star_schema(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------- weekly

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
EMP_TITLES = ["engineer", "Teacher ", "nurse", "MANAGER", "driver", "chef", "clerk",
              "analyst", "artist", "farmer", "pilot", "judge", "vet", "coach", "actor"]
# Skewed, with ties inside the top ten and a wide gap after it: the
# tenth title (5%) outnumbers the eleventh (2%) in every week of a few
# thousand rows (about six standard deviations at 3,000 rows), so the
# batch pipeline's per-week top ten always equals the pinned list.
EMP_TITLE_P = np.array([18, 14, 12, 10, 9, 8, 7, 6, 5, 5, 2, 1.5, 1, 0.9, 0.6]) / 100
# The gold encoding dictionary, pinned as a weekly job pins it from history.
EMP_TITLE_TOP = [t.strip().upper() for t in EMP_TITLES[:10]]
EMP_LENGTHS = ["10+ years", "< 1 year"] + [f"{i} year{'s' if i > 1 else ''}" for i in range(1, 10)]
FIRST_WEEK = dt.date(2024, 1, 7)  # a Sunday


@dataclass(frozen=True)
class Landing:
    """One weekly landing: all four domain tables for ``week``, new or a
    corrected re-landing of an earlier week."""

    seq: int
    week: dt.date
    frames: dict[str, pd.DataFrame]


def _nullify(rng: np.random.Generator, values, frac: float) -> pd.Series:
    s = pd.Series(values).astype(object)
    s[rng.random(len(s)) < frac] = None
    return s


def _week_frames(seed: int, week_idx: int, rows: int, version: int) -> dict[str, pd.DataFrame]:
    """The four domain tables for one week. ``version`` > 0 is a revised
    re-landing: the same loans with about 3% of rates and grades
    corrected, plus about 1% late rows."""
    rng = np.random.default_rng([seed, week_idx])
    week = FIRST_WEEK + dt.timedelta(weeks=week_idx)
    n = rows
    members = np.array([f"M{i:06d}" for i in rng.integers(0, rows * 3, n)])
    snap = np.array([week + dt.timedelta(days=int(d)) for d in rng.integers(0, 7, n)])
    ids = np.array([f"L{week_idx:03d}{i:06d}" for i in range(n)])

    credit = pd.DataFrame({
        "member_id": members,
        "snapshot_date": snap,
        "earliest_cr_line": _nullify(rng, [f"{MONTHS[m]}-{y}" for m, y in zip(rng.integers(0, 12, n), rng.integers(1990, 2020, n))], 0.1),
        "mort_acc": _nullify(rng, rng.integers(0, 5, n), 0.15),
        "inq_last_6mths": _nullify(rng, rng.integers(0, 3, n), 0.2),
        "pub_rec": _nullify(rng, rng.choice([0, 1], n), 0.2),
        "delinq_2yrs": _nullify(rng, rng.integers(0, 4, n), 0.1),
        "mths_since_last_delinq": _nullify(rng, rng.integers(0, 80, n), 0.4),
        "inq_last_12m": _nullify(rng, rng.integers(0, 10, n), 0.2),
        "num_tl_30dpd": _nullify(rng, rng.integers(0, 3, n), 0.2),
        "last_credit_pull_d": [f"{MONTHS[m]}-2023" for m in rng.integers(0, 12, n)],
        "mths_since_last_record": _nullify(rng, rng.integers(0, 100, n), 0.5),
    })
    demo = pd.DataFrame({
        "member_id": members,
        "snapshot_date": snap,
        "emp_title": _nullify(rng, rng.choice(EMP_TITLES, n, p=EMP_TITLE_P), 0.1),
        "emp_length": _nullify(rng, rng.choice(EMP_LENGTHS, n), 0.1),
        "home_ownership": _nullify(rng, rng.choice(["RENT", "OWN", "MORTGAGE", " rent "], n), 0.15),
        "annual_inc": _nullify(rng, _money(rng, 2e4, 2e5, n), 0.1),
        "verification_status": rng.choice(["Not Verified", "Source Verified", "Verified"], n),
        "zip_code": [f"{z:05d}" for z in rng.integers(10000, 99999, n)],
        "addr_state": rng.choice(["CA", "NY", "TX", "FL", "WA", "IL", "MA", "GA", "OH", "PA"], n),
        "application_type": rng.choice(["Individual", "Joint App"], n, p=[0.9, 0.1]),
        "annual_inc_joint": _nullify(rng, _money(rng, 4e4, 3e5, n), 0.8),
        "verification_status_joint": _nullify(rng, rng.choice(["Not Verified", "Verified"], n), 0.8),
    })
    fin = pd.DataFrame({
        "member_id": members,
        "snapshot_date": snap,
        "dti": _nullify(rng, _money(rng, 0, 40, n), 0.15),
        "all_util": _nullify(rng, _money(rng, 0, 100, n), 0.25),
        "il_util": _nullify(rng, _money(rng, 0, 100, n), 0.25),
        "bc_util": _nullify(rng, _money(rng, 0, 100, n), 0.25),
        "revol_bal": _nullify(rng, _money(rng, 0, 5e4, n), 0.1),
        "open_acc": _nullify(rng, rng.integers(0, 30, n), 0.1),
        "total_bal_il": _nullify(rng, _money(rng, 0, 1e5, n), 0.3),
        "mo_sin_old_il_acct": _nullify(rng, rng.integers(0, 200, n), 0.3),
        "dti_joint": _nullify(rng, _money(rng, 0, 40, n), 0.8),
    })
    grades = rng.choice(list("ABCDEFG"), n, p=[0.25, 0.25, 0.2, 0.12, 0.1, 0.05, 0.03])
    loans = pd.DataFrame({
        "id": ids,
        "member_id": members,
        "snapshot_date": snap,
        "loan_amnt": _money(rng, 1e3, 4e4, n),
        "int_rate": _money(rng, 5, 30, n),
        "term": rng.choice([" 36 months", " 60 months"], n),
        "grade": _nullify(rng, grades, 0.03),
        "sub_grade": [f"{g}{i}" for g, i in zip(grades, rng.integers(1, 6, n))],
        "issue_d": snap,
        "purpose": rng.choice(["debt_consolidation", "credit_card", "home", "car", "medical", "vacation", "moving", "other"], n),
        "pymnt_plan": rng.choice(["y", "n"], n, p=[0.05, 0.95]),
        "debt_settlement_flag": rng.choice(["Y", "N"], n, p=[0.1, 0.9]),
        "initial_list_status": rng.choice(["w", "f"], n),
        "disbursement_method": rng.choice(["Cash", "DirectPay"], n, p=[0.8, 0.2]),
        "url": [f"https://example.com/{i}" for i in ids],
        "out_prncp": _money(rng, 0, 1e4, n),
    })
    # exact duplicate loan rows under new ids (same member and date):
    # the gold keyed dedup path
    dup = loans.iloc[:5].copy()
    dup["id"] = [f"D{week_idx:03d}{i:05d}" for i in range(5)]
    frames = {"credit_history": credit, "demographic": demo, "financial": fin,
              "loan_terms": pd.concat([loans, dup], ignore_index=True)}
    if version:
        frames = _revise(np.random.default_rng([seed, week_idx, version]), frames, week_idx, version)
    return frames


def _revise(rng, frames: dict[str, pd.DataFrame], week_idx: int, version: int) -> dict[str, pd.DataFrame]:
    loans = frames["loan_terms"].copy()
    fix = rng.random(len(loans)) < 0.03
    loans.loc[fix, "int_rate"] = np.round(loans.loc[fix, "int_rate"].to_numpy() + 0.25, 2)
    loans.loc[fix, "grade"] = rng.choice(list("ABCDEFG"), int(fix.sum()))
    late = loans.sample(n=max(1, len(loans) // 100), random_state=int(rng.integers(2**31)))
    late = late.assign(id=[f"R{week_idx:03d}{version:02d}{i:05d}" for i in range(len(late))])
    out = dict(frames)
    out["loan_terms"] = pd.concat([loans, late], ignore_index=True)
    return out


def weekly_batches(seed: int, rows_per_week: int, revise_frac: float):
    """Yield landings in arrival order, without end. The first is a new
    week; after that each landing revises a random earlier week with
    probability ``revise_frac``, else lands the next week."""
    rng = np.random.default_rng([seed, 0x5EED])
    versions: dict[int, int] = {}
    for seq in itertools.count():
        if versions and rng.random() < revise_frac:
            w = int(rng.integers(0, len(versions)))
            versions[w] += 1
        else:
            w = len(versions)
            versions[w] = 0
        yield Landing(seq, FIRST_WEEK + dt.timedelta(weeks=w),
                      _week_frames(seed, w, rows_per_week, versions[w]))


def write_landing(frames: dict[str, pd.DataFrame], schemas: dict[str, pa.Schema], root: str, seq: int) -> int:
    """Land one batch as ``<root>/<table>/batch_<seq>.parquet`` per
    table; returns the bytes landed."""
    total = 0
    for name, df in frames.items():
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"batch_{seq:05d}.parquet")
        tmp = os.path.join(d, f".batch_{seq:05d}.tmp")
        pq.write_table(pa.Table.from_pandas(df, schema=schemas[name], preserve_index=False), tmp)
        os.replace(tmp, path)
        total += os.path.getsize(path)
    return total
