"""Certified-verdict ledger: which driver verdict vouches for each
registered query, and is the CURRENT certification window enough to
fix every hole?

The driver hash-certifies only the first 50 names of
``queries/__init__._CERTIFICATION_ORDER`` per round, so correctness
coverage is a ledger across rounds: a query is *vouched* by the
latest ``CORRECTNESS_r*.json`` that contains it, and that verdict
goes stale as refactors land behind it. Judges cross-reference the
files by hand (VERDICT r4 "Next round" #7); this tool is that
cross-reference as a gate:

- **fail** if any query's latest driver verdict is a FAILURE
  (rows/schema/hash mismatch) — regressions must not hide behind
  rotation;
- **fail** if a query has NO verdict or a verdict staler than
  ``--max-age`` rounds (default 2) AND is not scheduled in the
  current first-50 window — i.e. the hole exists and this round's
  rotation does not plug it. A stale-but-windowed query passes: the
  plan fixes it, and the next driver run enforces it.

Usage::

    python tools/ledger.py [--report] [--max-age N] [--window K]

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
WINDOW = 50

# Round in which each NEVER-certified query was registered (= the
# round whose CORRECTNESS file first landed without it). The
# pending-next-window grace in :func:`audit` is bounded by this map
# (ADVICE r12): grace holds only while ``latest_round <= registered
# round`` — one full rotation. A never-certified name with no entry
# gets NO grace, so registering a new query while the window is full
# requires recording it here (the red ledger is the reminder).
# Certified names are inert here; prune entries when convenient.
PENDING_SINCE: dict[str, int] = {
    # (empty: every registered query is certified; add an entry here
    # when registering a new query while the window is full)
}


def load_verdicts(
    repo: str = REPO, max_round: int | None = None
) -> dict[str, tuple[int, bool, str]]:
    """query -> (latest_round, passed, detail). ``passed`` means the
    latest verdict is a full rows+schema+hash match (hash may be
    absent for oracle-less queries: then rows_match is the bar, the
    driver's weaker rows-only check). ``max_round`` ignores verdict
    files of later rounds, so the result is the ledger as it stood
    after that round."""
    out: dict[str, tuple[int, bool, str]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as fh:
            data = json.load(fh)
        for name, v in data.items():
            ok = bool(v.get("rows_match")) and v.get("err") in (None, "")
            for k in ("schema_match", "hash_match"):
                if k in v and v[k] is not None:
                    ok = ok and bool(v[k])
            detail = v.get("err") or ""
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, ok, detail)
    return out


def registry_order() -> list[str]:
    sys.path.insert(0, REPO)
    from streaming_data_lake_spark.queries import all_queries

    return list(all_queries().keys())


def audit(
    max_age: int = 2,
    window: int = WINDOW,
    verdicts: dict[str, tuple[int, bool, str]] | None = None,
    order: list[str] | None = None,
    pending_since: dict[str, int] | None = None,
) -> tuple[list[str], list[dict]]:
    """Returns (problems, rows). ``problems`` empty == ledger green.

    ``verdicts``/``order`` default to the live repo state; tests
    inject synthetic fixtures so the gate's behavior is checked
    independently of whatever CORRECTNESS file the driver last wrote
    (a live-state meta-test goes vacuous the moment a fresh full-
    window verdict lands — VERDICT r5 "What's wrong" #1).
    """
    if verdicts is None:
        verdicts = load_verdicts()
    if order is None:
        order = registry_order()
    if pending_since is None:
        pending_since = PENDING_SINCE
    latest_round = max((r for r, _ok, _d in verdicts.values()), default=0)
    windowed = set(order[:window])
    # A NEVER-certified query physically cannot earn a verdict when
    # the current window is exactly full of obligatory slots (the r12
    # state); parking it at the head of the NEXT window — positions
    # window..2*window, the committed-drain region every rotation
    # already uses — is the sanctioned deferral. Only never-certified
    # names get this grace: a STALE or FAILED verdict parked there is
    # still a problem (regressions and aging must not hide behind the
    # next round's plan — the committed-drain excuse for those lives
    # in tests/test_registry_order.py, pinned by explicit name). The
    # grace is AGE-BOUNDED (ADVICE r12): it holds only while
    # ``latest_round <= PENDING_SINCE[name]`` — once one more
    # CORRECTNESS file lands without the query, successive rotations
    # can no longer keep deferring it.
    committed_next = set(order[window : 2 * window])
    problems: list[str] = []
    rows: list[dict] = []
    for name in order:
        rnd, ok, detail = verdicts.get(name, (None, None, ""))
        status = "never-certified" if rnd is None else (
            "FAILED" if not ok else (
                "stale" if rnd < latest_round - max_age else "fresh"
            )
        )
        scheduled = name in windowed
        grace_expired = False
        if status == "never-certified" and not scheduled and name in committed_next:
            since = pending_since.get(name)
            if since is not None and latest_round <= since:
                status = "pending-next-window"
            else:
                grace_expired = since is not None
        rows.append(
            {"query": name, "latest_round": rnd, "status": status, "windowed": scheduled}
        )
        if status == "FAILED":
            problems.append(
                f"{name}: latest driver verdict (r{rnd}) FAILED ({detail or 'mismatch'})"
            )
        elif status in ("never-certified", "stale") and not scheduled:
            where = "no driver verdict" if rnd is None else f"last verdict r{rnd}"
            extra = (
                f"; pending-next-window grace EXPIRED (pending since "
                f"r{pending_since[name]}, a full rotation has passed)"
                if grace_expired
                else ""
            )
            problems.append(
                f"{name}: {where} (latest round r{latest_round}, max age "
                f"{max_age}) and NOT in the first-{window} certification window{extra}"
            )
    return problems, rows


def plan_next(
    max_age: int = 2,
    verdicts: dict[str, tuple[int, bool, str]] | None = None,
    order: list[str] | None = None,
) -> list[tuple[str, int | None]]:
    """The NEXT round's minimum must-window list: queries whose
    current verdict exceeds ``max_age`` once one more round lands,
    any never-certified names, and any query whose LATEST verdict is
    a failure (a regression is obligatory re-certification no matter
    how fresh the failing verdict is — the audit flags it at any
    age). This is the rotation planning every verdict asks for, as a
    command instead of a hand cross-reference — run it at round start
    to size the window before spending slots on new queries."""
    if verdicts is None:
        verdicts = load_verdicts()
    if order is None:
        order = registry_order()
    next_round = max((r for r, _ok, _d in verdicts.values()), default=0) + 1
    out: list[tuple[str, int | None]] = []
    for name in order:
        rnd, ok = verdicts.get(name, (None, None))[:2]
        if rnd is None or not ok or rnd < next_round - max_age:
            out.append((name, rnd))
    return out


def emit_order(
    max_age: int = 2,
    window: int = WINDOW,
    verdicts: dict[str, tuple[int, bool, str]] | None = None,
    order: list[str] | None = None,
) -> tuple[list[str], list[str]]:
    """Recommended ``_CERTIFICATION_ORDER`` for the NEXT round, as
    (new_order, notes) — the r8 rotation miss (VERDICT r8 "What's
    wrong" #1) happened because turning ``--plan-next``'s obligatory
    list into an actual reordered registry was left as a hand step;
    this emits the full paste-ready list instead.

    Composition rules:

    1. **Obligatory first** (:func:`plan_next`: goes-stale once the
       next round lands, never-certified, or latest-verdict FAILED),
       in current registry order. If they exceed the window, the
       overflow LEADS the tail (positions window+1..) so the round
       after next is a pure prefix rotation — the committed-drain
       shape round 9 used — and a note records the drain size.
    2. **Free slots fill with the oldest-verdict survivors**
       (ascending verdict round, ties by current position): each
       round retires the maximum re-certification debt, keeping the
       ledger's freshness floor as high as the window allows.
    3. **Tail** sorts the same way (oldest first after any drain
       overflow), so truncation points stay meaningful.

    The output is a RECOMMENDATION to paste into
    ``queries/__init__._CERTIFICATION_ORDER`` *at round start* (the
    driver certifies with whatever order is live at round end — never
    rotate mid-round after the driver may have run). Window
    composition tests (tests/test_registry_order.py) must be updated
    to pin the new round's plan, exactly as r9 did.
    """
    if verdicts is None:
        verdicts = load_verdicts()
    if order is None:
        order = registry_order()
    pos = {name: i for i, name in enumerate(order)}
    due = [name for name, _rnd in plan_next(max_age, verdicts, order)]
    due_set = set(due)
    notes: list[str] = []

    def age_key(name: str):
        rnd = verdicts.get(name, (None,))[0]
        return (-1 if rnd is None else rnd, pos[name])

    rest = sorted((n for n in order if n not in due_set), key=age_key)
    if len(due) > window:
        notes.append(
            f"DRAIN: {len(due)} obligatory > {window} slots; "
            f"{len(due) - window} overflow names lead the tail — commit "
            f"them in writing as the following round's window (the r9 "
            f"precedent: CHANGELOG_r9.md + tests/test_registry_order.py)"
        )
        new_order = due + rest
    else:
        fill = rest[: window - len(due)]
        if fill:
            notes.append(
                f"{len(due)} obligatory + {len(fill)} oldest-verdict fills "
                f"(through r{verdicts.get(fill[-1], (None,))[0]})"
            )
        new_order = due + fill + rest[len(fill):]
    assert sorted(new_order) == sorted(order)  # permutation, always
    return new_order, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--report", action="store_true", help="print the full ledger")
    ap.add_argument(
        "--plan-next",
        action="store_true",
        help="list queries that MUST sit in the window next round "
        "(their verdict goes stale when one more round lands)",
    )
    ap.add_argument(
        "--emit-order",
        action="store_true",
        help="print the full recommended next-round _CERTIFICATION_ORDER "
        "(obligatory first, then oldest-verdict fills), paste-ready",
    )
    ap.add_argument("--max-age", type=int, default=2)
    ap.add_argument("--window", type=int, default=WINDOW)
    args = ap.parse_args(argv)
    if args.emit_order:
        new_order, notes = emit_order(args.max_age, args.window)
        verdicts = load_verdicts()
        print("_CERTIFICATION_ORDER = [")
        for i, name in enumerate(new_order):
            if i == 0:
                print(f"    # ---- certification window (first {args.window}) ----")
            if i == args.window:
                print(f"    # ---- position {args.window + 1}+ : NOT certified next round ----")
            rnd = verdicts.get(name, (None,))[0]
            tag = "never-certified" if rnd is None else f"r{rnd}"
            print(f'    "{name}",  # {tag}')
        print("]")
        for n in notes:
            print(f"# NOTE: {n}")
        return 0
    if args.plan_next:
        due = plan_next(args.max_age)
        for name, rnd in due:
            print(f"{name:45s} {'r' + str(rnd) if rnd else 'never-certified'}")
        free = args.window - len(due)
        print(
            f"\nNEXT-ROUND PLAN: {len(due)} obligatory slot(s), "
            f"{free} free of {args.window}"
        )
        return 0
    problems, rows = audit(args.max_age, args.window)
    if args.report:
        for r in rows:
            rnd = f"r{r['latest_round']}" if r["latest_round"] else "-"
            print(
                f"{r['query']:45s} {rnd:>4s} {r['status']:16s}"
                f"{' [windowed]' if r['windowed'] else ''}"
            )
        print()
    for p in problems:
        print(f"LEDGER: {p}")
    print(f"LEDGER {'RED' if problems else 'GREEN'}: "
          f"{len(rows)} queries, {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
