"""Machine-readable query catalog (VERDICT r10 #8).

Past ~380 registered queries COVERAGE.md's prose tables stopped
conveying the inventory; this module generates ``CATALOG.json`` — one row
per registered query: where it lives, its category, whether it has a
DuckDB oracle, its driver-verification history (first-green /
last-confirmed round), and which bench records measured it. The file is
what makes judge audits and re-confirmation debt visible at a glance —
the top-level ``reconfirm_debt`` rollup (VERDICT r11 #7) counts active
names whose last green row predates the previous round, replacing the
old jq invocation.

Two kinds of fields, with different staleness rules:

* REGISTRY-STATIC fields (name, module, line, category, has_oracle) are
  pinned by CI: tests/test_layout.py regenerates them and diffs against
  the checked-in file, so adding a query without regenerating the catalog
  reds CI.
* HISTORY fields (first/last green round, bench appearances) are a
  snapshot stamped ``as_of_round``; the driver writing a new
  CORRECTNESS/BENCH file between sessions must NOT red CI (the r8–r10
  design rule: never assert a future round's file state), so CI ignores
  them and the next session's regeneration refreshes them.

Regenerate with ``python -m tmdb_movie_data_pipeline_spark.catalog``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from typing import Any

_ROOT = Path(__file__).resolve().parent.parent

#: where the driver-written CORRECTNESS_r*.json / BENCH_DETAIL_*.json live.
#: Same as _ROOT in production; split out so the driver-file simulation test
#: (tests/test_registry_rotation.py, VERDICT r11 #5) can point the history
#: readers at a tmpdir without breaking module-path resolution.
_HISTORY_ROOT = _ROOT


def _correctness_history() -> dict[str, dict[str, Any]]:
    """name -> {first_green, last_green, n_rows, latest_green} across every
    driver-written CORRECTNESS_r*.json, in round order."""
    from .registry import _row_is_green

    hist: dict[str, dict[str, Any]] = {}
    rounds = sorted(
        (int(m.group(1)), p)
        for p in _HISTORY_ROOT.glob("CORRECTNESS_r*.json")
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json", p.name))
    )
    for rnd, path in rounds:
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            h = hist.setdefault(
                name,
                {
                    "first_green_round": None,
                    "last_green_round": None,
                    "driver_rows": 0,
                    "latest_green": False,
                },
            )
            h["driver_rows"] += 1
            green = _row_is_green(row)
            h["latest_green"] = green
            if green:
                h["last_green_round"] = rnd
                if h["first_green_round"] is None:
                    h["first_green_round"] = rnd
    return hist


def _bench_appearances() -> dict[str, list[str]]:
    """name -> bench detail records (round or session tagged) that timed it."""
    out: dict[str, list[str]] = {}
    for p in sorted(_HISTORY_ROOT.glob("BENCH_DETAIL_*.json")):
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        tag = p.stem.replace("BENCH_DETAIL_", "")
        names = list(data.get("queries", {})) + list(
            data.get("streaming_queries", {})
        )
        for n in names:
            out.setdefault(n, []).append(tag)
    return out


def build_catalog() -> dict[str, Any]:
    from .registry import _round_token, all_oracles, all_queries

    active, oracles = all_queries(), all_oracles()
    hist = _correctness_history()
    bench = _bench_appearances()
    rows: dict[str, Any] = {}
    for name, fn in active.items():
        code = fn.__code__
        rel = Path(code.co_filename).resolve().relative_to(_ROOT)
        h = hist.get(name, {})
        rows[name] = {
            # -- registry-static (CI-pinned) --
            "module": f"{rel}:{code.co_firstlineno}",
            "category": fn.__module__.rsplit(".", 1)[-1],
            "has_oracle": name in oracles,
            # -- history snapshot (as_of_round; NOT CI-pinned) --
            "first_green_round": h.get("first_green_round"),
            "last_green_round": h.get("last_green_round"),
            "driver_rows": h.get("driver_rows", 0),
            "latest_green": h.get("latest_green", False),
            "bench_records": bench.get(name, []),
        }
    token = _round_token()
    return {
        "as_of_round": token,
        "n_active": len(active),
        "reconfirm_debt": _reconfirm_debt(rows, set(active), token),
        "queries": dict(sorted(rows.items())),
    }


def _reconfirm_debt(
    rows: dict[str, Any], active: set[str], token: int
) -> dict[str, Any]:
    """Rollup of driver re-confirmation debt (VERDICT r11 #7): how many
    ACTIVE names last earned a driver-green row before round ``token − 1``
    — previously a jq invocation, now one diff away each round. Derived
    from the same per-query history snapshot in this file, so the CI pin
    (tests/test_layout.py::test_catalog_reconfirm_debt_internally_consistent)
    checks INTERNAL consistency against the checked-in rows rather than
    live round state — a driver file landing between sessions can never
    red it (the standing never-assert-round-state rule)."""
    last = {
        n: rows[n]["last_green_round"]
        for n in active
        if rows[n]["last_green_round"] is not None
    }
    stale = {n: r for n, r in last.items() if r < token - 1}
    by_round: dict[str, int] = {}
    for r in sorted(set(stale.values())):
        by_round[str(r)] = sum(1 for v in stale.values() if v == r)
    return {
        "threshold_round": token - 1,
        "n_active_stale": len(stale),
        "n_never_verified": len(active) - len(last),
        "oldest_green_round": min(last.values()) if last else None,
        "stale_by_last_green_round": by_round,
    }


STATIC_FIELDS = ("module", "category", "has_oracle")


def main() -> None:
    path = _ROOT / "CATALOG.json"
    path.write_text(json.dumps(build_catalog(), indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
