"""Expected results: each query's DuckDB oracle, reduced to a row count
and an order-insensitive digest of the canonical cells that the
repository's oracle harness (``tests/oracle_harness``) compares."""

from __future__ import annotations

import hashlib


def canonical_digest(pdf) -> tuple[int, str]:
    from tests.oracle_harness import canonicalize

    h = hashlib.sha256("|".join(sorted(pdf.columns)).encode())
    rows = canonicalize(pdf)
    for row in rows:
        h.update("\x1f".join(row).encode() + b"\x1e")
    return len(rows), h.hexdigest()


def expected_digests(sf_dir: str, names: list[str]) -> dict[str, list]:
    """Run each query's registered oracle SQL on ``sf_dir``."""
    from tests.oracle_harness import duck_connection

    from mle_proj_datapipeline_spark.plans.registry import ORACLES

    con = duck_connection(sf_dir)
    try:
        return {n: list(canonical_digest(con.execute(ORACLES[n]).fetchdf())) for n in names}
    finally:
        con.close()
