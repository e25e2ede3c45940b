"""The certified-verdict ledger is a CI gate with two rules: no
query's latest driver verdict may be a failure, and no verdict may
name an unregistered query. Turns the judge's manual
CORRECTNESS_r*.json cross-referencing (VERDICT r4 "Next round" #7)
into an automated check that holds however many verdict files land."""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import pytest

# Resolve tools/ relative to THIS checkout — a hardcoded path would
# import (and audit) a different repo when the tests run elsewhere.
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import ledger  # noqa: E402

R20 = os.path.join(ledger.REPO, "CORRECTNESS_r20.json")


def _write(path, data) -> None:
    with open(path, "w") as fh:
        json.dump(data, fh)


def test_ledger_green_on_the_verdict_files_on_disk():
    problems, rows = ledger.audit()
    assert len(rows) == len(ledger.registry_order()), "registry import broken?"
    assert not problems, "\n".join(problems)


def test_ledger_detects_a_hole():
    """The gate must bite on synthetic fixtures: a failed latest
    verdict and a verdict for an unregistered name are problems; a
    passing verdict and a query with no verdict yet are not (every
    query is checked against its oracle in Tier-1)."""
    order = ["fresh_q", "old_q", "failed_q", "new_q"]
    verdicts = {
        "fresh_q": (5, True, ""),
        "old_q": (1, True, ""),
        "failed_q": (5, False, "hash mismatch"),
        "gone_q": (4, True, ""),
    }
    problems, rows = ledger.audit(verdicts=verdicts, order=order)
    assert [r["query"] for r in rows] == order
    blamed = {p.split(":")[0] for p in problems}
    assert blamed == {"failed_q", "gone_q"}, problems


def test_ledger_failed_verdict_fires_even_when_windowed():
    """A recorded FAILURE is red whatever its round and wherever the
    query sits in the registry order — no rotation, window or age can
    hide a regression."""
    for rnd in (1, 5, 99):
        for order in (["ok_q", "bad_q"], ["bad_q", "ok_q"]):
            problems, _rows = ledger.audit(
                verdicts={"bad_q": (rnd, False, "rows mismatch"), "ok_q": (rnd, True, "")},
                order=order,
            )
            assert len(problems) == 1 and problems[0].startswith("bad_q:"), problems


def test_every_verdict_name_is_a_registered_query():
    """A CORRECTNESS entry for a name the registry no longer exports
    means a query was renamed/deleted after certification — its
    verdict silently vouches for nothing."""
    known = set(ledger.registry_order())
    seen = set(ledger.load_verdicts())
    orphans = seen - known
    assert not orphans, f"verdicts for unregistered queries: {sorted(orphans)}"


def test_ledger_is_round_independent(tmp_path):
    """Later verdict files never turn the ledger red by their mere
    arrival: the latest verdict per name decides, whatever its round."""
    for rnd in (20, 21, 22):
        shutil.copy(R20, tmp_path / f"CORRECTNESS_r{rnd}.json")
    assert ledger.main([], repo=str(tmp_path)) == 0

    with open(R20) as fh:
        newest = json.load(fh)
    name = next(iter(newest))
    older = copy.deepcopy(newest)
    older[name]["hash_match"] = False
    _write(tmp_path / "CORRECTNESS_r21.json", older)
    assert ledger.load_verdicts(repo=str(tmp_path))[name] == (22, True, "")
    assert ledger.main([], repo=str(tmp_path)) == 0

    newest[name]["hash_match"] = False
    _write(tmp_path / "CORRECTNESS_r22.json", newest)
    problems, _rows = ledger.audit(verdicts=ledger.load_verdicts(repo=str(tmp_path)))
    assert [p.split(":")[0] for p in problems] == [name]
    assert ledger.main([], repo=str(tmp_path)) == 1

    newest[name]["hash_match"] = True
    newest["no_such_query"] = dict(newest[name])
    _write(tmp_path / "CORRECTNESS_r22.json", newest)
    problems, _rows = ledger.audit(verdicts=ledger.load_verdicts(repo=str(tmp_path)))
    assert [p.split(":")[0] for p in problems] == ["no_such_query"]
    assert ledger.main([], repo=str(tmp_path)) == 1


def test_verdict_without_hash_match_is_judged_on_the_fields_it_has(tmp_path):
    """Old driver output carries no ``hash_match``; rows, schema and
    error still decide."""
    _write(tmp_path / "CORRECTNESS_r01.json", {
        "a_q": {"rows_match": True, "err": None},
        "b_q": {"rows_match": True, "schema_match": False, "err": None},
    })
    verdicts = ledger.load_verdicts(repo=str(tmp_path))
    assert verdicts == {"a_q": (1, True, ""), "b_q": (1, False, "")}


def test_ledger_fails_loudly_without_verdict_files(tmp_path, capsys):
    with pytest.raises(ledger.LedgerError, match="no CORRECTNESS"):
        ledger.load_verdicts(repo=str(tmp_path))
    assert ledger.main([], repo=str(tmp_path)) == 2
    assert "LEDGER ERROR" in capsys.readouterr().err


@pytest.mark.parametrize("text", ['{"q": {"rows_match": tru', '["q"]', '{"q": 1}'])
def test_ledger_fails_loudly_on_an_unparsable_verdict_file(tmp_path, capsys, text):
    shutil.copy(R20, tmp_path / "CORRECTNESS_r20.json")
    (tmp_path / "CORRECTNESS_r21.json").write_text(text)
    with pytest.raises(ledger.LedgerError, match="CORRECTNESS_r21.json"):
        ledger.load_verdicts(repo=str(tmp_path))
    assert ledger.main([], repo=str(tmp_path)) == 2
    assert "LEDGER ERROR" in capsys.readouterr().err


def test_order_sensitive_subset_derivation():
    """The shuffle-sweep gate runs on a DERIVED order-sensitive
    subset (VERDICT r11 "Next round" #7). Pin the derivation's
    recall on known-sensitive queries (window ranking, LIMIT ties,
    folds, collected lists) and that it actually prunes — a subset
    that silently grew to the full registry would erode the gate
    budget, one that lost the ranking queries would erode coverage."""
    import edge_sweep

    names = set(edge_sweep.order_sensitive_names())
    must_have = {
        "topn_customers_per_nation",      # row_number + LIMIT ties
        "latest_event_per_user_type",     # row_number dedup
        "top_busiest_hours",              # ORDER BY + LIMIT
        "value_histogram_quantiles",      # fold over histogram bins
        "user_event_type_paths",          # collect_list path
        "batch_sessionize_windows",       # lag-based sessionization
    }
    assert must_have <= names, sorted(must_have - names)
    total = len(ledger.registry_order())
    assert len(names) < total * 0.5, (
        f"derived subset ({len(names)}) no longer prunes the registry ({total})"
    )


def test_skew_sweep_mutations_are_deterministic_and_hot():
    """make_skew (tools/edge_sweep.py --skew, VERDICT r12 #5) must be
    deterministic (two calls bit-identical), concentrate the declared
    hot fractions, preserve primary keys and contracted value columns
    untouched, and keep documents.n_chars consistent with text."""
    import collections

    import pyarrow.parquet as pq

    import edge_sweep

    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    a = edge_sweep.make_skew("events", ev)
    b = edge_sweep.make_skew("events", ev)
    assert a.equals(b), "skew generation must be deterministic"
    uid = collections.Counter(a.column("user_id").to_pylist())
    assert uid.most_common(1)[0][1] / a.num_rows > 0.35, "hot user share"
    # PKs and contracted value column untouched
    assert a.column("event_id").equals(ev.column("event_id"))
    assert a.column("value").equals(ev.column("value"))
    assert a.column("ts").equals(ev.column("ts"))

    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    d = edge_sweep.make_skew("documents", docs)
    txt = d.column("text").to_pylist()
    nch = d.column("n_chars").to_pylist()
    assert all(t is None or len(t) == c for t, c in zip(txt, nch)), (
        "n_chars must track mutated text"
    )
    hot_share = sum(1 for t in txt if t and t.endswith("zz hot token")) / len(txt)
    assert hot_share > 0.2, hot_share

    emb = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    e = edge_sweep.make_skew("embeddings", emb)
    vecs = e.column("embedding").to_pylist()
    hot = sum(1 for v in vecs if v and v[0] is not None and abs(v[0] - 1.0) < 0.02)
    assert hot / len(vecs) > 0.12, "hot LSH/IVF direction share"
    assert e.column("vec_id").equals(emb.column("vec_id"))


def test_skew_runtime_blowup_regex_catches_slow_lines():
    """The skew sweep's bounded-runtime parse must flag a query over
    the bound on both PASS and FAIL lines and ignore fast ones."""
    import re as _re

    pat = _re.compile(r"^(PASS|FAIL) (\S+):.*\[([0-9.]+)s\]")
    fast = pat.search("PASS top_tokens: 20 rows, 3 cols [0.7s]")
    slow = pat.search("PASS minhash_lsh_near_dups: 9 rows, 3 cols [241.3s]")
    failslow = pat.search("FAIL knn_ivf_cosine: rows 3 vs 4 [500.0s]")
    assert fast and float(fast.group(3)) < edge_sweep_max()
    assert slow and float(slow.group(3)) > edge_sweep_max()
    assert failslow and float(failslow.group(3)) > edge_sweep_max()


def edge_sweep_max() -> float:
    import edge_sweep

    return edge_sweep.SKEW_MAX_QUERY_SEC


def test_row_scale_tiling_invariants():
    """make_row_scale (tools/edge_sweep.py --row-scale, the r14
    row-COUNT axis) must be deterministic, multiply rows exactly K,
    keep PKs unique across copies, keep the orders<->lineitem FK
    closed inside every copy (shared orderkey stride), grow user
    cardinality, keep documents' copies NEAR-dups (not exact) with
    n_chars recomputed, and pass dimension tables through untouched —
    breaking any of these silently drains the sweep's signal."""
    import pyarrow.parquet as pq

    import edge_sweep

    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    a = edge_sweep.make_row_scale("events", ev)
    b = edge_sweep.make_row_scale("events", ev)
    assert a.equals(b), "row-scale generation must be deterministic"
    k = edge_sweep.ROW_SCALE_K
    assert a.num_rows == ev.num_rows * k
    ids = a.column("event_id").to_pylist()
    assert len(ids) == len(set(ids)), "event_id must stay unique across copies"
    base_users = len(set(ev.column("user_id").to_pylist()))
    assert len(set(a.column("user_id").to_pylist())) == base_users * k

    orders = pq.read_table("/root/testdata/sf0.001/orders.parquet")
    li = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    ok = set(edge_sweep.make_row_scale("orders", orders).column("o_orderkey").to_pylist())
    lk = set(edge_sweep.make_row_scale("lineitem", li).column("l_orderkey").to_pylist())
    assert not (lk - ok), "every tiled lineitem row must keep its order"

    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    d = edge_sweep.make_row_scale("documents", docs)
    txt = d.column("text").to_pylist()
    nch = d.column("n_chars").to_pylist()
    assert all(t is None or len(t) == c for t, c in zip(txt, nch))
    n = docs.num_rows
    base_txt = docs.column("text").to_pylist()
    # copies are near-dups, never byte-identical to their source row
    for c in range(1, k):
        for i in (0, n - 1):
            if base_txt[i] is not None:
                assert txt[c * n + i] != base_txt[i]
                assert txt[c * n + i].startswith(base_txt[i])

    nation = pq.read_table("/root/testdata/sf0.001/nation.parquet")
    assert edge_sweep.make_row_scale("nation", nation).equals(nation), (
        "dimension tables pass through untouched"
    )
