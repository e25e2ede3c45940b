"""Certified-verdict ledger: cross-references the driver's
``CORRECTNESS_r*.json`` verdict files against the query registry.

A query is vouched for by the latest verdict file that names it. The
audit has two rules:

- **fail** if a query's latest driver verdict is a FAILURE
  (rows/schema/hash mismatch or an error);
- **fail** if a verdict names a query the registry does not export (a
  renamed or deleted query whose verdict vouches for nothing).

The ledger cannot measure without verdicts, so a missing or
unparsable verdict file is an error (exit 2), never a green ledger.

Usage::

    python tools/ledger.py [--report]

``tests/test_ledger.py`` runs the gate in CI.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class LedgerError(RuntimeError):
    """The verdict files cannot be read, so the ledger cannot measure."""


def load_verdicts(repo: str = REPO) -> dict[str, tuple[int, bool, str]]:
    """query -> (latest_round, passed, detail). ``passed`` means the
    latest verdict is a full rows+schema+hash match; a verdict file
    without ``hash_match`` (older driver output) is judged on the
    fields it has. Raises :class:`LedgerError` when ``repo`` holds no
    verdict file or one fails to parse."""
    paths = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not paths:
        raise LedgerError(f"no CORRECTNESS_r*.json verdict file in {repo}")
    out: dict[str, tuple[int, bool, str]] = {}
    for path in paths:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
            for name, v in data.items():
                ok = bool(v.get("rows_match")) and v.get("err") in (None, "")
                for k in ("schema_match", "hash_match"):
                    if k in v and v[k] is not None:
                        ok = ok and bool(v[k])
                prev = out.get(name)
                if prev is None or rnd >= prev[0]:
                    out[name] = (rnd, ok, v.get("err") or "")
        except (OSError, ValueError, AttributeError) as e:
            raise LedgerError(f"cannot parse {path}: {e}") from e
    return out


def registry_order() -> list[str]:
    sys.path.insert(0, REPO)
    from streaming_data_lake_spark.queries import all_queries

    return list(all_queries().keys())


def audit(
    verdicts: dict[str, tuple[int, bool, str]] | None = None,
    order: list[str] | None = None,
) -> tuple[list[str], list[dict]]:
    """Returns (problems, rows). ``problems`` empty == ledger green.

    ``verdicts``/``order`` default to the live repo state; tests
    inject synthetic fixtures so the gate's behavior is checked
    independently of whatever CORRECTNESS file the driver last wrote.
    """
    if verdicts is None:
        verdicts = load_verdicts()
    if order is None:
        order = registry_order()
    problems: list[str] = []
    rows: list[dict] = []
    for name in order:
        rnd, ok, detail = verdicts.get(name, (None, None, ""))
        status = "no-verdict" if rnd is None else ("passed" if ok else "FAILED")
        rows.append({"query": name, "latest_round": rnd, "status": status})
        if status == "FAILED":
            problems.append(
                f"{name}: latest driver verdict (r{rnd}) FAILED ({detail or 'mismatch'})"
            )
    registered = set(order)
    for name in sorted(set(verdicts) - registered):
        problems.append(
            f"{name}: verdict r{verdicts[name][0]} names a query that is not registered"
        )
    return problems, rows


def main(argv: list[str] | None = None, repo: str = REPO) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--report", action="store_true", help="print the full ledger")
    args = ap.parse_args(argv)
    try:
        problems, rows = audit(verdicts=load_verdicts(repo))
    except LedgerError as e:
        print(f"LEDGER ERROR: {e}", file=sys.stderr)
        return 2
    if args.report:
        for r in rows:
            rnd = f"r{r['latest_round']}" if r["latest_round"] else "-"
            print(f"{r['query']:45s} {rnd:>4s} {r['status']}")
        print()
    for p in problems:
        print(f"LEDGER: {p}")
    print(f"LEDGER {'RED' if problems else 'GREEN'}: "
          f"{len(rows)} queries, {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
