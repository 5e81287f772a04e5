"""Output checks: the report digest and the registry oracle comparison."""

from __future__ import annotations

import hashlib
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round(v):
    """Floats to 9 significant digits, so summation order cannot move a digest."""
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, list):
        return [_round(x) for x in v]
    return v


def report_digest(report: dict, scatter_limit: int) -> dict:
    """Digest of a report document, after ``tests/test_report._report_digest``.

    Rows are hashed order-insensitively with floats rounded first. A chart
    that hit ``scatter_limit`` is compared on row count and columns only,
    because ``limit()`` keeps arbitrary rows.
    """

    def chart(c):
        capped = len(c["data"]) >= scatter_limit
        rows = sorted(json.dumps(_round(r), default=str) for r in c["data"])
        return {
            "id": c["id"],
            "title": c["title"],
            "columns": c["columns"],
            "n_rows": len(c["data"]),
            "data_md5": None if capped else hashlib.md5("\n".join(rows).encode()).hexdigest(),
            "palette": "palette" in c,
        }

    return {
        "metrics": {k: str(_round(v)) for k, v in report["structure"]["metrics"].items()},
        "charts": [chart(c) for c in report["charts"]],
        "errors": report["errors"],
    }


def digest_key(digest: dict) -> str:
    return hashlib.sha256(json.dumps(digest, sort_keys=True).encode()).hexdigest()


def oracle_compare(name: str, spark_df, oracle_df) -> list[str]:
    """Problems found comparing a query's result to its DuckDB twin.

    The comparison is the repository's correctness gate,
    ``tools/check_correctness._compare``.
    """
    sys.path.insert(0, os.path.join(_REPO, "tools"))
    from check_correctness import _compare

    return _compare(name, spark_df, oracle_df)
