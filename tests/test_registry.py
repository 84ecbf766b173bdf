"""Driver-contract invariants of the __spark_entry__ registry: the
correctness window (first 50 entries) must contain every query that needs a
driver row, and the priority lists must never drift from the live registry."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import __spark_entry__ as entry  # noqa: E402

WINDOW = 50  # observed driver correctness budget (r3: 62 registered, 50 rows)


def test_priority_lists_match_live_registry():
    names = list(entry.queries())
    for n in entry._VERIFY_FIRST + entry._VERIFY_LAST:
        assert n in names, f"stale priority-list entry: {n}"
    assert len(names) == len(set(names))


def test_window_holds_everything_unverified_or_new():
    names = list(entry.queries())
    window = set(names[:WINDOW])
    # everything in the head list (never-verified / new this round) is in
    # the window...
    for n in entry._VERIFY_FIRST:
        assert n in window, f"{n} fell out of the driver window"
    # ...and only designated long-green stalwarts sit past it
    for n in names[WINDOW:]:
        assert n in entry._VERIFY_LAST, (
            f"{n} is past the driver's {WINDOW}-row window but is not a "
            f"designated stalwart — add it to _VERIFY_FIRST or _VERIFY_LAST")


def test_every_query_has_oracle_or_is_known_rows_only():
    # as of r5 EVERY entry carries a full oracle: q90 and q92 use the
    # landed-parquet invariant pattern (the Python seams aren't
    # SQL-expressible, but their committed output is)
    osql = entry.oracle_sql()
    for n in entry.queries():
        assert n in osql, f"{n} silently lost its oracle"


def test_adapter_exposes_the_one_package_registry():
    """__spark_entry__ only orders and ships: its names and oracle SQL are
    exactly the package registry's, so no second registry can grow there."""
    from webextract import queries as q

    assert set(entry.queries()) == set(q.queries())
    assert entry.oracle_sql() == q.oracle_sql()


# ---------------------------------------------------------------------------
# no public operator in src/ that only tests reach
# ---------------------------------------------------------------------------

import ast  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent

#: the files that count as callers: the package itself, the `__spark_entry__`
#: adapter, tools, the benchmark and the bench scripts (tests do not count)
CALLER_GLOBS = ("src/webextract/*.py", "__spark_entry__.py", "tools/*.py",
                "perfbench/*.py", "BENCH/*.py", "bench*.py")

#: "module.name" -> why it may stay in src/ with tests as its only callers.
#: Entries marked "pending" are known debt (ROADMAP item 3): delete each with
#: its tests or give it a caller, then drop it here — the guard fails on an
#: entry that no longer needs to be listed, so this list only shrinks.
TEST_ONLY_ALLOWED = {
    "aio.enrich_df": "PAPER §3's async-I/O stage; a real caller needs a "
                     "network endpoint, which the test environment lacks",
    "aio.FakeClient": "the network-free client enrich_df runs with; it stays "
                      "importable on executors, which test modules are not",
    "dedup.jaccard_pairs": "pending: q14 inlines a twin of it with broadcast "
                           "hints; calling it from q14 changes q14's plan",
    "tableio.ParquetIO": "pending: runner writes its paths directly",
    "tableio.IcebergIO": "pending: needs an Iceberg runtime jar",
}


def _identifiers(tree: ast.AST) -> set[str]:
    """Every name a module mentions as a load, attribute or import."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _registered(node: ast.AST) -> bool:
    """``@register(...)``-decorated: the query registry is its caller."""
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
               for d in getattr(node, "decorator_list", []))


def _public_names_without_callers() -> set[str]:
    trees = {p: ast.parse(p.read_text())
             for g in CALLER_GLOBS for p in sorted(ROOT.glob(g))}
    refs = set().union(*map(_identifiers, trees.values()))
    out = set()
    for path, tree in trees.items():
        if path.parent != ROOT / "src" / "webextract":
            continue
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")
                    and not _registered(node) and node.name not in refs):
                out.add(f"{path.stem}.{node.name}")
    return out


def test_no_public_src_name_is_reached_only_from_tests():
    """Every public top-level function/class in src/webextract is named by
    some non-test file (references match by bare identifier, so a name
    another module uses for something else also counts)."""
    orphans = _public_names_without_callers()
    unlisted = sorted(orphans - set(TEST_ONLY_ALLOWED))
    assert not unlisted, (
        f"public names with no caller outside tests/: {unlisted} — delete "
        "them with their tests, give them a caller, or justify them in "
        "TEST_ONLY_ALLOWED")
    stale = sorted(set(TEST_ONLY_ALLOWED) - orphans)
    assert not stale, f"TEST_ONLY_ALLOWED entries now have callers or are gone: {stale}"
