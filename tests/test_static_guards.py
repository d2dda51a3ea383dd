"""Static guards over the library source: every def is reached by a query
or a tool, one definition per fixture-table temp view, and one copy of each
shared step."""

from __future__ import annotations

import ast
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


# Library defs that no root reaches, each kept for the reason given. An
# entry must name a def that still exists, is still unreached, and is named
# in tests/; anything else on this list fails the guard.
_UNREACHED_OK = {
    # reference twins: independent implementations the tests compare the
    # Spark path against
    "chatdata_spark/plans/self_query.py::python_eval": "reference twin: row-by-row filter evaluator",
    "chatdata_spark/operators/layout.py::morton_interleave_py": "reference twin of morton_interleave",
    "chatdata_spark/operators/layout.py::morton_nd_py": "reference twin of morton_nd",
    "chatdata_spark/operators/layout.py::hilbert_py": "reference twin of with_hilbert",
    "chatdata_spark/functions/vector.py::cosine_distance_py": "reference twin of cosine_distance",
    "chatdata_spark/operators/dedup.py::embedding_near_dup": "reference twin: exact pairs for embedding_near_dup_clustered",
    "chatdata_spark/operators/dedup.py::shingle_hashes_col": "reference twin: JVM form of shingle_hashes_udf",
    # env-gated model seams: bind the reference's models (mpnet,
    # instructor-xl, a cross-encoder, tiktoken), none installed here
    "chatdata_spark/functions/embedders.py::register_embedder": "model seam: per-table embedder registry",
    "chatdata_spark/functions/embedders.py::embedder_udf": "model seam: registry lookup with stub fallback",
    "chatdata_spark/functions/embedders.py::make_sentence_transformer_factory": "model seam: sentence-transformers embedder",
    "chatdata_spark/functions/embedders.py::maybe_real_embedder": "model seam: SPARK_GRAFT_EMBED_MODEL",
    "chatdata_spark/catalog.py::TableConfig.embed_udf": "model seam: a table's bound embedder",
    "chatdata_spark/functions/text.py::token_count_udf": "model seam: SPARK_GRAFT_TOKENIZER (tiktoken)",
    "chatdata_spark/operators/textsearch.py::maybe_cross_encoder": "model seam: SPARK_GRAFT_CROSS_ENCODER",
    # the LangChain comparator grammar the self-query parser accepts
    "chatdata_spark/plans/self_query.py::ne": "comparator grammar: ne",
    "chatdata_spark/plans/self_query.py::nin": "comparator grammar: nin",
    "chatdata_spark/plans/self_query.py::contain": "comparator grammar: contain",
    "chatdata_spark/plans/self_query.py::not_": "comparator grammar: not",
    # maintenance ops kept until a query covers them
    "chatdata_spark/operators/layout.py::zorder_write": "maintenance op: the one layout writer",
    "chatdata_spark/operators/ivf.py::IVFIndex.split_skewed": "maintenance op: IVF skew split",
    "chatdata_spark/stores/state.py::VersionedParquetStore.vacuum": "maintenance op: version retention",
    "chatdata_spark/stores/state.py::SessionStore.list_sessions": "maintenance op: list a user's sessions",
}


def _names(tree, aliases: bool = True) -> set[str]:
    """Every identifier ``tree`` names: bare names, attribute names and
    (unless ``aliases`` is false) imported names."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif aliases and isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def unreached_defs(pkg: pathlib.Path, root_files) -> dict[str, int]:
    """``path::name`` -> line of every top-level def and class method under
    ``pkg`` that no root reaches.

    Roots: ``@query`` functions (decorator arguments included), module-level
    statements of ``pkg`` and every file in ``root_files``. A def is reached
    when a root or a reached def names it; a method also needs its class
    reached, and a class's dunder methods and class-level statements count
    as the class. Import aliases in a package ``__init__.py`` are
    re-exports, not callers, so they name nothing."""
    defs = {}  # key -> (name, owner class key, subtrees scanned once reached, line)
    seen = set()
    for f in root_files:
        seen |= _names(ast.parse(f.read_text(), filename=str(f)))
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent).as_posix()
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            key = f"{rel}::{getattr(node, 'name', '')}"
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[key] = (node.name, None, [node], node.lineno)
                if _is_registered_query(node):
                    seen.add(node.name)
            elif isinstance(node, ast.ClassDef):
                body = [*node.decorator_list, *node.bases, *node.keywords]
                for st in node.body:
                    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and not _is_dunder(st.name):
                        defs[f"{key}.{st.name}"] = (st.name, key, [st], st.lineno)
                    else:
                        body.append(st)
                defs[key] = (node.name, None, body, node.lineno)
            else:
                seen |= _names(node, aliases=path.name != "__init__.py")
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, owner, body, _) in defs.items():
            if key not in reached and name in seen and (owner is None or owner in reached):
                reached.add(key)
                for sub in body:
                    seen |= _names(sub)
                grew = True
    return {key: d[3] for key, d in defs.items() if key not in reached}


def reachability_problems(pkg, root_files, tests_dir, allow: dict[str, str]) -> list[str]:
    """Unreached defs missing from ``allow``, plus every ``allow`` entry that
    is stale: its def is gone or reached, or no file under ``tests_dir``
    names it."""
    dead = unreached_defs(pkg, root_files)
    in_tests = set()
    for f in sorted(pathlib.Path(tests_dir).rglob("*.py")):
        in_tests |= _names(ast.parse(f.read_text(), filename=str(f)))
    problems = [f"{key} (line {line}) is reached by no root" for key, line in dead.items() if key not in allow]
    for key in allow:
        if key not in dead:
            problems.append(f"allowlist entry {key}: no such unreached def")
        elif key.rsplit("::", 1)[-1].rsplit(".", 1)[-1] not in in_tests:
            problems.append(f"allowlist entry {key}: not named in tests")
    return problems


def _root_files() -> list[pathlib.Path]:
    return [
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "tools").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
    ]


def test_every_library_def_is_reached():
    """Every top-level def and class method under chatdata_spark/ is reached
    from a ``@query`` function, library module-level code, bench.py,
    tools/, perfbench/ or __spark_entry__.py, directly or through other
    reached defs. tests/ is not a root: a def that only tests call (or
    that only such a def calls) fails here unless ``_UNREACHED_OK`` keeps
    it as a reference twin, an env-gated model seam, the comparator
    grammar or a named maintenance op."""
    problems = reachability_problems(PKG, _root_files(), REPO / "tests", _UNREACHED_OK)
    assert not problems, "library reachability:\n" + "\n".join(problems)


def test_reachability_reports_test_only_code_and_stale_entries(tmp_path):
    """The guard's rule on a planted package: a def only a test names, a
    helper only that def names, and a stale allowlist entry are all
    reported; the query and its helper are not."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from pkg.mod import only_tested  # noqa: F401\n")
    (pkg / "mod.py").write_text(
        "from pkg.registry import query\n\n"
        "def used():\n    return 1\n\n"
        "def helper():\n    return 2\n\n"
        "def only_tested():\n    return helper()\n\n"
        "@query('q')\ndef q():\n    return used()\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text("from pkg.mod import only_tested\n\nonly_tested()\n")
    allow = {"pkg/mod.py::gone": "stale"}
    assert sorted(reachability_problems(pkg, [], tests, allow)) == [
        "allowlist entry pkg/mod.py::gone: no such unreached def",
        "pkg/mod.py::helper (line 6) is reached by no root",
        "pkg/mod.py::only_tested (line 9) is reached by no root",
    ]


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
