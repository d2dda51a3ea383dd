"""Static guards over the library source: no dead top-level code, one
definition per fixture-table temp view, and one copy of each shared step."""

from __future__ import annotations

import ast
import collections
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "chatdata_spark"


def _library_files():
    return sorted(PKG.rglob("*.py"))


def _is_registered_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def test_every_library_def_is_referenced():
    """A top-level function or class under chatdata_spark/ must be named
    somewhere besides its own definition: in the library, tests/,
    perfbench/, bench.py or tools/. ``@query``-registered functions are
    reached through the registry and count as referenced. A helper with no
    caller left fails here; delete it or give it one. A re-export in a
    package ``__init__.py`` is not a caller, so its import aliases are
    not counted (a dead function re-exported there would otherwise
    pass)."""
    sources = [
        *_library_files(),
        *(REPO / "tests").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    refs: collections.Counter = collections.Counter()
    for path in sources:
        reexports = path.name == "__init__.py" and PKG in path.parents
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if reexports and isinstance(node, ast.alias):
                continue
            if isinstance(node, ast.Name):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
            elif isinstance(node, ast.alias):
                refs[node.name.rsplit(".", 1)[-1]] += 1
    dead = []
    for path in _library_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered_query(node) or refs[node.name]:
                continue
            dead.append(f"{path.relative_to(REPO).as_posix()}:{node.lineno} {node.name}")
    assert not dead, "unreferenced library definitions:\n" + "\n".join(dead)


def test_fixture_views_are_registered_only_in_catalog():
    """A fixture-table temp view (``events``, ``documents``, ...) is created
    only by ``catalog.register_views``, which reads each table through the
    one ``load_tables`` definition. An inline
    ``createOrReplaceTempView("<table>")`` elsewhere in the library could
    drift from it (an ``events`` read that skips the nanos conversion)."""
    from chatdata_spark.catalog import TESTDATA_TABLES

    offenders = []
    for path in _library_files():
        if path == PKG / "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createOrReplaceTempView"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value in TESTDATA_TABLES
            ):
                offenders.append(f"{path.relative_to(REPO).as_posix()}:{node.lineno}")
    assert not offenders, (
        "fixture temp view defined outside catalog.register_views:\n" + "\n".join(offenders)
    )


def _def_span(path: pathlib.Path, name: str) -> range:
    """Line numbers of the top-level function or assignment ``name`` in
    ``path``."""
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if (isinstance(node, ast.FunctionDef) and node.name == name) or (
            isinstance(node, ast.Assign)
            and any(getattr(t, "id", None) == name for t in node.targets)
        ):
            return range(node.lineno, node.end_lineno + 1)
    raise AssertionError(f"{name} not found in {path}")


def _occurrences(needle: str) -> list[tuple[pathlib.Path, int]]:
    return [
        (path, n)
        for path in _library_files()
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if needle in line
    ]


def test_fixture_path_only_in_oracle_sf_dir():
    """A lazy replay oracle reads the fixture tables through
    ``catalog.oracle_sf_dir()``, which honours the fixture-dir override
    (``SPARK_GRAFT_ORACLE_SF``). A literal ``testdata/sf0.01`` path
    elsewhere in the library would silently ignore it."""
    allowed = _def_span(PKG / "catalog.py", "oracle_sf_dir")
    offenders = [
        f"{path.relative_to(REPO).as_posix()}:{n}"
        for path, n in _occurrences("testdata/sf0.01")
        if not (path == PKG / "catalog.py" and n in allowed)
    ]
    assert not offenders, "literal fixture path outside oracle_sf_dir:\n" + "\n".join(offenders)


def test_set_similarity_steps_written_once():
    """Every set-similarity join expands shared-key buckets through
    ``dedup._bucket_pairs`` and verifies candidates through
    ``dedup._verify_jaccard``; a second copy of either step fails here."""
    dedup = PKG / "operators" / "dedup.py"
    for needle, home in (
        ('array_intersect("sh_i", "sh_j")', "_verify_jaccard"),
        ("slice(docs, pa + 2", "_bucket_pairs"),
    ):
        found = _occurrences(needle)
        span = _def_span(dedup, home)
        assert len(found) == 1 and found[0][0] == dedup and found[0][1] in span, (
            f"{needle!r} must appear once, in dedup.{home}: {found}"
        )


def test_graph_family_written_once():
    """The customer↔supplier graph is built by ``_transaction_pairs`` on
    the Spark side and ``_PAIRS_SQL`` on the DuckDB side, every
    component-closure oracle runs ``dedup._duck_components``, and every
    Jaccard-pair oracle filters through ``dedup._duck_jaccard_pairs``; a
    second copy of any of them fails here."""
    analytics = PKG / "queries" / "analytics.py"
    dedup = PKG / "queries" / "dedup.py"
    for needle, path, home in (
        ("reach(v, c)", dedup, "_duck_components"),
        ("'c' || CAST(o_custkey", analytics, "_PAIRS_SQL"),
        ('F.lit("c"), F.col("o_custkey")', analytics, "_transaction_pairs"),
        ("list_intersect(a.sh, b.sh)) AS n", dedup, "_duck_jaccard_pairs"),
    ):
        found = _occurrences(needle)
        span = _def_span(path, home)
        assert len(found) == 1 and found[0][0] == path and found[0][1] in span, (
            f"{needle!r} must appear once, in {path.name}::{home}: {found}"
        )
    # a textual rewrite of an oracle also rewrites any other match in the
    # SQL (a threshold swap hits every "0.4"); compose the SQL instead
    for rewrite in ('.replace("0.4"', '.replace("ORDER BY'):
        assert not _occurrences(rewrite), _occurrences(rewrite)


def test_package_ships_by_value_from_init_only():
    """``chatdata_spark/__init__.py`` registers the whole package for
    by-value pickling; a second registration would mean a module that
    still thinks it has to ship itself."""
    found = _occurrences("register_pickle_by_value(")
    assert [path for path, _ in found] == [PKG / "__init__.py"], found


def test_worker_steps_written_once():
    """Worker closures call the operator function that holds each step
    instead of carrying a pasted copy of it; a second copy of any step
    under ``operators/`` fails here. The independent oracle replays in
    ``queries/`` are out of scope."""
    ops = PKG / "operators"
    for needle, module, home in (
        ("open_bins.pop(i)", "packing", "bfd_pack"),
        ('marked[i : i + n] = b"\\x01" * n', "repetition", "repetition_stats_py"),
        ('best = [0.0] + [float("-inf")] * n', "unigram", "viterbi_pieces"),
        ('f"sc|{doc_id}|{i}"', "spancorrupt", "corruption_plan_py"),
        ("weights = (1 << np.arange(", "lsh", "_pack_keys"),
        ("float(2**61)", "kmeans", "_overflow_bound"),
        ("sorted(counts.values(), reverse=True)", "heavyhitters", "_mg_compress"),
        ("[i] == a and ", "bpe", "_merge_pair"),
        ("h2 = ((", "bloomjoin", "_bloom_positions"),
        ("@ cents.T) + c_sq[None, :]", "ivf", "_nearest_udf"),
    ):
        path = ops / f"{module}.py"
        found = [(p, n) for p, n in _occurrences(needle) if ops in p.parents]
        span = _def_span(path, home)
        assert len(found) == 1 and found[0][0] == path and found[0][1] in span, (
            f"{needle!r} must appear once under operators/, in {module}.{home}: {found}"
        )


def test_x10_replication_recipe_written_once():
    """The 10x scale-up (key offsets, the '#<rep>' word perturbation, the
    embedding sign flips) lives in tools/gen_sf10x.py; bench.py's x10
    entries read the fixture it writes. A second copy of the word
    perturbation in bench.py, tools/ or the library fails here."""
    needle = "concat('$1#'"
    sources = [*_library_files(), *sorted((REPO / "tools").rglob("*.py")), REPO / "bench.py"]
    found = [
        (path, n)
        for path in sources
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if needle in line
    ]
    assert len(found) == 1 and found[0][0] == REPO / "tools" / "gen_sf10x.py", found
