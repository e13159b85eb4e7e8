"""Registry-wide contracts the driver relies on."""

from __future__ import annotations

import re

from stock_trend_predictor_spark.plans import REGISTRY

KNOWN_TABLES = {
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
}


def test_every_query_documents_itself():
    undocumented = [n for n, q in REGISTRY.items() if not q.doc.strip()]
    assert not undocumented, undocumented


def test_oracles_reference_only_registered_views():
    """The driver pre-registers exactly the testdata tables as DuckDB
    views; an oracle touching anything else fails only at driver
    time — catch it here."""
    bad = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        froms = set(
            m.group(1).lower()
            for m in re.finditer(
                r"\b(?:(?<!DISTINCT )FROM|JOIN)\s+([a-zA-Z_][a-zA-Z0-9_]*)",
                q.oracle,
            )
        )
        # CTE / subquery aliases declared anywhere ("x AS (", including
        # DuckDB's "x AS MATERIALIZED (") and table functions are
        # legitimate targets
        ctes = set(
            m.group(1).lower()
            for m in re.finditer(
                r"([a-zA-Z_][a-zA-Z0-9_]*)\s*(?:\([^)]*\))?"
                r"\s+AS\s+(?:MATERIALIZED\s+)?\(",
                q.oracle,
            )
        )
        table_fns = {"range", "generate_series", "unnest", "values"}
        unknown = froms - KNOWN_TABLES - ctes - table_fns
        if unknown:
            bad[name] = sorted(unknown)
    assert not bad, bad


def test_no_duplicate_output_aliases_in_oracles():
    """The driver sorts columns by name before hashing — duplicate
    aliases in the final select would be ambiguous."""
    # cheap textual heuristic on the FINAL select of each oracle:
    # aliases declared via ' AS x' at the top level must be unique
    dupes = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        final = q.oracle.rsplit("SELECT", 1)[-1]
        type_names = {
            "bigint", "int", "integer", "smallint", "tinyint", "double",
            "float", "real", "varchar", "text", "date", "timestamp",
            "decimal", "hugeint", "boolean", "blob", "interval", "long",
        }
        aliases = re.findall(r"\bAS\s+([a-zA-Z_][a-zA-Z0-9_]*)", final)
        lowered = [
            a.lower() for a in aliases if a.lower() not in type_names
        ]
        if len(lowered) != len(set(lowered)):
            seen, d = set(), set()
            for a in lowered:
                (d if a in seen else seen).add(a)
            dupes[name] = sorted(d)
    assert not dupes, dupes


def test_cited_files_exist():
    """Provenance integrity: every ``*.py`` path mentioned anywhere in
    package source (docstrings cite reference files as file:line so
    the parity judge can check claims) must actually exist — in the
    reference's file list (tests/reference_files.txt, the 8 ``*.py``
    files SURVEY.md §0 lists) for reference citations, or in this repo
    for self-references. Round 3 shipped 9 citations of files that
    never existed (ml_model/train_model*.py); this pins the paper
    trail."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1]
    ref_paths = set(
        (Path(__file__).parent / "reference_files.txt").read_text().split()
    )
    ref_names = {p.rsplit("/", 1)[-1] for p in ref_paths}

    repo_names = {
        p.name
        for p in pkg.rglob("*.py")
        if ".git" not in p.parts
    }
    pat = re.compile(r"[A-Za-z_][\w./]*\.py(?![\w])")
    bad: list[tuple[str, str]] = []
    for src in (pkg / "stock_trend_predictor_spark").rglob("*.py"):
        # join adjacent string literals first so a citation wrapped
        # across concatenated doc strings reassembles before matching
        text = re.sub(r'"\s*"', "", src.read_text())
        for cite in set(pat.findall(text)):
            name = cite.rsplit("/", 1)[-1]
            ok = (
                cite in ref_paths
                or (("/" not in cite) and name in ref_names)
                or (("/" not in cite) and name in repo_names)
                or (pkg / cite).exists()
                or (pkg / "stock_trend_predictor_spark" / cite).exists()
            )
            if not ok:
                bad.append((str(src.relative_to(pkg)), cite))
    assert not bad, f"citations of nonexistent files: {bad}"


def test_one_module_starts_foreach_batch_queries():
    """Every foreachBatch sink the package starts goes through
    ``streaming/ingest.py::start_foreach_batch``, so the trigger policy
    (availableNow, or processingTime when a caller passes one) lives in
    one place. A source scan: a second ``.foreachBatch(`` call site or
    ``trigger(availableNow=True)`` anywhere else fails it."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "stock_trend_predictor_spark"
    sources = {
        str(p.relative_to(pkg)): p.read_text() for p in sorted(pkg.rglob("*.py"))
    }
    for needle in (".foreachBatch(", "trigger(availableNow=True)"):
        found = [name for name, text in sources.items() if needle in text]
        assert found == ["streaming/ingest.py"], (needle, found)


def test_folds_leave_the_fold_protocol_to_the_state_store():
    """Each ``streaming/*_maintenance.py`` fold declares its layout once
    and leaves the protocol to ``operators/statestore.py``: the replay
    skip, the bucket hash, the compaction cadence and the format guard.
    A source scan: a fold module that reads ``last_batch_id``, spells
    out ``pmod(F.xxhash64``, tests ``% compact_every`` or defines a
    ``_check_*format`` function of its own fails it."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "stock_trend_predictor_spark"
    folds = sorted((pkg / "streaming").glob("*_maintenance.py"))
    assert folds
    found = []
    for path in folds:
        text = path.read_text()
        found += [
            (path.name, needle)
            for needle in ("last_batch_id", "pmod(F.xxhash64", "% compact_every")
            if needle in text
        ]
        found += [
            (path.name, node.name)
            for node in ast.walk(ast.parse(text))
            if isinstance(node, ast.FunctionDef)
            and re.fullmatch(r"_check_.*format", node.name)
        ]
    assert found == []


def test_no_python_file_hard_codes_the_checkout_path():
    """Scripts and tests resolve the repository root from ``__file__``:
    a string literal that starts with the checkout's own absolute path
    imports, reads or overwrites another tree when the repository is
    checked out anywhere else. A scan of the string literals of every
    tracked ``*.py`` file; comments may name a path."""
    import ast
    import subprocess
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    tracked = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=root, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert tracked
    found = [
        (name, node.lineno)
        for name in tracked
        for node in ast.walk(ast.parse((root / name).read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(str(root))
    ]
    assert not found, found
