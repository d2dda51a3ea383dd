"""Static guards over the library source: every def is reached by a query
or a tool, every switch is set by one, the library reads only its four
environment variables, one definition per fixture-table temp view, and one
copy of each shared step."""

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
    # the LangChain comparator grammar the self-query parser accepts
    "chatdata_spark/plans/self_query.py::ne": "comparator grammar: ne",
    "chatdata_spark/plans/self_query.py::nin": "comparator grammar: nin",
    "chatdata_spark/plans/self_query.py::contain": "comparator grammar: contain",
    "chatdata_spark/plans/self_query.py::not_": "comparator grammar: not",
    # maintenance ops kept until a query covers them
    "chatdata_spark/operators/layout.py::zorder_write": "maintenance op: the one layout writer",
    "chatdata_spark/operators/ivf.py::IVFIndex.split_skewed": "maintenance op: IVF skew split",
}

# Switches (see _switch_params) that no root sets, each kept for the reason
# given. A reason names one of the admissible kinds in _SWITCH_REASONS; an
# entry that is gone or that a root now sets fails the guard.
_SWITCH_REASONS = ("deployment setting: ", "check on outside input: ", "check on persisted state: ")
_SWITCH_OK = {
    "chatdata_spark/session.py::get_spark(shuffle_partitions)": "deployment setting: shuffle width for the host's cores",
    "chatdata_spark/streaming/stateful.py::stream_distinct(ttl_minutes)": "deployment setting: dedup state retention horizon for an unbounded key domain",
    "chatdata_spark/plans/vector_sql.py::VectorSQLDialect.translate(must_have_columns)": "deployment setting: the columns a table's retriever projects (TableConfig.must_have_cols)",
    "chatdata_spark/operators/decontam.py::embedding_decontaminate(max_eval)": "check on outside input: the eval set must be small enough to collect",
    "chatdata_spark/operators/incdedup.py::IncrementalMinHashStore.__init__(k)": "check on persisted state: a reopened store's shingle size",
    "chatdata_spark/operators/incdedup.py::IncrementalMinHashStore.__init__(num_hashes)": "check on persisted state: a reopened store's signature length",
    "chatdata_spark/operators/incdedup.py::IncrementalMinHashStore.__init__(rows_per_band)": "check on persisted state: a reopened store's banding",
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


def _reach(pkg: pathlib.Path, root_files):
    """Walk the library from its roots. Returns ``(defs, reached, roots)``:
    ``defs`` maps ``path::name`` of every top-level def and class method
    under ``pkg`` to ``(name, owner class key, subtrees scanned once
    reached, line, node)``; ``reached`` holds the keys a root reaches;
    ``roots`` are the root subtrees (root files and library module-level
    statements).

    Roots: ``@query`` functions (decorator arguments included), module-level
    statements of ``pkg`` and every file in ``root_files``. A def is reached
    when a root or a reached def names it; a method also needs its class
    reached, and a class's dunder methods and class-level statements count
    as the class. Import aliases in a package ``__init__.py`` are
    re-exports, not callers, so they name nothing."""
    defs = {}
    roots = []
    seen = set()
    for f in root_files:
        roots.append(ast.parse(f.read_text(), filename=str(f)))
        seen |= _names(roots[-1])
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent).as_posix()
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            key = f"{rel}::{getattr(node, 'name', '')}"
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[key] = (node.name, None, [node], node.lineno, node)
                if _is_registered_query(node):
                    seen.add(node.name)
            elif isinstance(node, ast.ClassDef):
                body = [*node.decorator_list, *node.bases, *node.keywords]
                for st in node.body:
                    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and not _is_dunder(st.name):
                        defs[f"{key}.{st.name}"] = (st.name, key, [st], st.lineno, st)
                    else:
                        body.append(st)
                defs[key] = (node.name, None, body, node.lineno, node)
            else:
                roots.append(node)
                seen |= _names(node, aliases=path.name != "__init__.py")
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, owner, body, *_) in defs.items():
            if key not in reached and name in seen and (owner is None or owner in reached):
                reached.add(key)
                for sub in body:
                    seen |= _names(sub)
                grew = True
    return defs, reached, roots


def unreached_defs(pkg: pathlib.Path, root_files) -> dict[str, int]:
    """``path::name`` -> line of every top-level def and class method under
    ``pkg`` that no root reaches (see :func:`_reach`)."""
    defs, reached, _ = _reach(pkg, root_files)
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
    it as a reference twin, the comparator grammar or a named maintenance
    op."""
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


def _switch_params(fn) -> dict[str, int | None]:
    """The switches of def ``fn``: each defaulted parameter that the test
    of an ``if``, ``elif``, ``while`` or conditional expression in ``fn``
    names, mapped to its positional index (None when keyword-only)."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    defaulted = {p.arg: i for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)}
    defaulted |= {p.arg: None for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    tested = set()
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.While, ast.IfExp)):
            tested |= {n.id for n in ast.walk(node.test) if isinstance(n, ast.Name)}
    return {p: i for p, i in defaulted.items() if p in tested}


def unset_switches(pkg: pathlib.Path, root_files) -> dict[str, int]:
    """``path::def(param)`` -> line of every switch (:func:`_switch_params`)
    of a reached top-level def, class method or ``__init__`` under ``pkg``
    that no call sets (an unreached def answers to the reachability rule).
    Only calls in roots and reached library code count (see
    :func:`_reach`); a call sets a switch when it passes it by keyword or
    position, or forwards ``*args``/``**kwargs``. Callees are matched by
    name (a class by its name, for its ``__init__``); a name the library
    defines twice is skipped."""
    defs, reached, roots = _reach(pkg, root_files)
    by_name: dict[str, list] = {}  # called name -> [(switch key prefix, def, self offset)]
    for key, (name, owner, _, _, node) in defs.items():
        if isinstance(node, ast.ClassDef):
            init = [st for st in node.body if isinstance(st, ast.FunctionDef) and st.name == "__init__"]
            by_name.setdefault(name, []).append((f"{key}.__init__", init[0] if init else None, 1))
        else:
            static = any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)
            by_name.setdefault(name, []).append((key, node, int(owner is not None and not static)))
    sets: dict[str, set] = {}  # called name -> positions and keywords some call passes
    for tree in [*roots, *(sub for key in reached for sub in defs[key][2])]:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            got = sets.setdefault(name, set())
            for i, arg in enumerate(call.args):
                got.add("*" if isinstance(arg, ast.Starred) else i)
            got |= {kw.arg or "**" for kw in call.keywords}
    out = {}
    for name, targets in by_name.items():
        if len(targets) != 1 or targets[0][1] is None:
            continue
        prefix, fn, offset = targets[0]
        if prefix.removesuffix(".__init__") not in reached:
            continue
        got = sets.get(name, set())
        for param, i in _switch_params(fn).items():
            if param in got or "**" in got or (i is not None and ({i - offset, "*"} & got)):
                continue
            out[f"{prefix}({param})"] = fn.lineno
    return out


def switch_problems(pkg, root_files, allow: dict[str, str]) -> list[str]:
    """Unset switches missing from ``allow``, plus every ``allow`` entry
    that is stale (no such switch, or a root now sets it) or whose reason
    is not one of the admissible kinds."""
    unset = unset_switches(pkg, root_files)
    problems = [f"{key} (line {line}) is set by no root" for key, line in unset.items() if key not in allow]
    for key, reason in allow.items():
        if key not in unset:
            problems.append(f"switch entry {key}: no such unset switch")
        elif not reason.startswith(_SWITCH_REASONS):
            problems.append(f"switch entry {key}: reason must start with one of {_SWITCH_REASONS}")
    return problems


def test_every_switch_is_set_by_a_root():
    """A defaulted parameter that picks a branch (a switch) is set by some
    call in a root or reached library code; otherwise the branch it
    guards runs only under tests, a fork next to the one path the queries
    take. Exceptions sit on ``_SWITCH_OK``, each a deployment setting, a
    check on outside input or a check on persisted state."""
    problems = switch_problems(PKG, _root_files(), _SWITCH_OK)
    assert not problems, "library switches:\n" + "\n".join(problems)


def test_switch_guard_reports_test_only_switch_and_stale_entry(tmp_path):
    """The switch rule on a planted package: a switch only a test sets, a
    stale ``_SWITCH_OK`` entry and an entry without an admissible reason
    are reported; a switch a query sets by keyword, one it sets by
    position, an ``__init__`` and a method switch set through the class and
    the instance, and an allowlisted switch are not. The test-only switch
    passes once its test is counted as a root."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "from pkg.registry import query\n\n"
        "def by_kw(x, fast=False):\n    return 1 if fast else 2\n\n"
        "def by_pos(x, mode=None):\n    if mode:\n        return 1\n    return 2\n\n"
        "def only_tested(x, scorer=None):\n    if scorer is not None:\n        return scorer(x)\n    return x\n\n"
        "def setting(x, cores=4):\n    while cores > 4:\n        cores -= 1\n    return x\n\n"
        "def handy(x, strict=False):\n    return x if strict else 0\n\n"
        "class Store:\n    def __init__(self, k=3):\n        self.k = k if k else 1\n\n"
        "    def get(self, n=0):\n        return n if n else None\n\n"
        "@query('q')\ndef q():\n"
        "    return by_kw(1, fast=True) + by_pos(1, 'a') + only_tested(1) + setting(1)"
        " + handy(1) + Store(4).get(2)\n"
    )
    test = tmp_path / "test_mod.py"
    test.write_text("from pkg.mod import only_tested\n\nonly_tested(1, scorer=abs)\n")
    allow = {
        "pkg/mod.py::setting(cores)": "deployment setting: host cores",
        "pkg/mod.py::handy(strict)": "convenience",
        "pkg/mod.py::gone(flag)": "deployment setting: stale",
    }
    stale_and_bad = [
        f"switch entry pkg/mod.py::handy(strict): reason must start with one of {_SWITCH_REASONS}",
        "switch entry pkg/mod.py::gone(flag): no such unset switch",
    ]
    assert sorted(switch_problems(pkg, [], allow)) == sorted(
        ["pkg/mod.py::only_tested(scorer) (line 11) is set by no root", *stale_and_bad]
    )
    assert sorted(switch_problems(pkg, [test], allow)) == sorted(stale_and_bad)


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def env_reads(paths) -> set[str]:
    """Names of the environment variables the files in ``paths`` read:
    ``os.environ.get/[]/setdefault/pop``, ``os.getenv`` and ``in
    os.environ``. A read whose name is not a string literal counts as
    ``<dynamic>``."""
    out = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            f = getattr(node, "func", None)
            if isinstance(f, ast.Attribute) and (
                f.attr == "getenv" or (f.attr in ("get", "setdefault", "pop") and _is_environ(f.value))
            ):
                key = node.args[0] if node.args else None
            elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                key = node.slice
            elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
                key = node.left
            else:
                continue
            out.add(key.value if isinstance(key, ast.Constant) else "<dynamic>")
    return out


def test_library_reads_only_its_environment_variables():
    """The library reads four environment variables: the fixture dir, the
    core count, the driver heap and the oracle fixture dir. A new knob
    (a model name, a feature flag) would be a second path that only its
    setter runs."""
    assert env_reads(_library_files()) == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_ORACLE_SF",
    }


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
