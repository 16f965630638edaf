"""Driver-contract invariants for __spark_entry__ (no Spark session
needed): every queries() entry has a DuckDB oracle except the documented
rows-only case, the oracle dict has no orphans, and the priority prefix
that steers the driver's ~50-query verification window is well-formed."""

import ast
from pathlib import Path

import __spark_entry__ as entry

# r5: the rows-only set is EMPTY — `full_pipeline` (model-UDF pipeline,
# no SQL oracle) was retired once `full_pipeline_micro` gave the complete
# keep/drop pipeline a hash-matched DuckDB replay and test_pipeline_f1
# pinned the production UDF twin at F1 = 1.0; every remaining query has
# a full value-hash oracle
ROWS_ONLY = set()


def test_every_query_has_an_oracle():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(qs) - set(oracles) == ROWS_ONLY
    assert not set(oracles) - set(qs), "orphan oracle entries"


def test_priority_is_self_aiming():
    """Queries without a driver-green CORRECTNESS row in any committed
    round file sort FIRST (inside the ~50-query driver window); verified
    ones follow. A brand-new query is unverified by construction, so the
    mechanism needs no manual curation when operators are added."""
    qs = list(entry.queries())
    verified = entry._driver_verified()
    unverified = [n for n in qs if n not in verified]
    assert qs[: len(unverified)] == unverified
    # the driver window verifies ~50 queries per round; the backlog must
    # fit in ONE window (VERDICT r4 tightened this from two: a two-window
    # allowance let the unverified set ratchet). The backlog is the
    # BUDGET for new queries in the round that creates it.
    assert len(unverified) <= 50, (
        "unverified backlog exceeds ONE driver window — "
        "stop adding queries until the gate catches up"
    )
    # the mechanism, not the snapshot: an unknown name is never verified
    fake = dict(entry.queries())
    fake["__brand_new_query__"] = fake[qs[0]]
    assert list(entry._prioritize(fake))[: len(unverified) + 1][-1] in fake
    assert "__brand_new_query__" in list(entry._prioritize(fake))[
        : len(unverified) + 1
    ]
    # verified tail rotates by STALENESS: least-recently-green first
    latest = entry._verified_latest_round()
    tail_rounds = [latest[n] for n in qs[len(unverified):]]
    assert tail_rounds == sorted(tail_rounds)


def test_driver_verified_reads_round_files():
    v = entry._driver_verified()
    # r01-r03 are committed: the long-green core families must be in it
    for name in ("quality_scores", "exact_dedup", "tpch_q1"):
        assert name in v, name


def test_oracle_sql_is_text():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def _referenced_names(tree: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(tree)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def test_every_public_fast_variant_is_used():
    """A public ``*_fast`` operator is a second implementation of some
    other operator. It stays only while it is registered in the gate
    registry (``_registry``, which queries() reads, so the gate checks
    it) or called from package code; an uncalled twin is dead weight
    that no gate or job exercises. Static: parses the sources, no Spark
    session."""
    root = Path(entry.__file__).resolve().parent
    pkg = root / "metadata_quality_stack_spark"
    fast = {
        node.name
        for f in sorted((pkg / "operators").glob("*.py"))
        for node in ast.parse(f.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and node.name.endswith("_fast")
        and not node.name.startswith("_")
    }
    assert fast, "no *_fast operators found under operators/"
    used = set()
    for f in [*pkg.rglob("*.py"), root / "job.py"]:
        used |= _referenced_names(ast.parse(f.read_text()))
    entry_tree = ast.parse((root / "__spark_entry__.py").read_text())
    (registry_def,) = [
        n for n in entry_tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_registry"
    ]
    used |= _referenced_names(registry_def)
    assert not fast - used, f"uncalled *_fast operators: {sorted(fast - used)}"


def test_each_query_is_registered_once():
    """Every gate query is one registry entry: a ``r["name"] = (fn, sql)``
    assignment or a ``_docs(op, op_sql[, name])`` line keyed by the
    operator's name. A second entry under the same name would silently
    replace the first, so the names written in ``_registry`` must be
    distinct and must be exactly the names queries() serves. Static:
    parses the entry file, no Spark session."""
    root = Path(entry.__file__).resolve().parent
    entry_tree = ast.parse((root / "__spark_entry__.py").read_text())
    (registry_def,) = [
        n for n in entry_tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_registry"
    ]
    names = []
    for node in ast.walk(registry_def):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.targets[0], ast.Subscript)
            and isinstance(node.targets[0].value, ast.Name)
            and node.targets[0].value.id == "r"
        ):
            names.append(node.targets[0].slice.value)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_docs"
        ):
            key = node.args[2] if len(node.args) > 2 else node.args[0]
            names.append(key.value if isinstance(key, ast.Constant) else key.attr)
    duplicated = sorted({n for n in names if names.count(n) > 1})
    assert not duplicated, f"registered more than once: {duplicated}"
    assert sorted(names) == sorted(entry.queries())


def _proc_paths(tree: ast.AST):
    """Every string or f-string passed to a call whose text starts with
    ``/proc`` (f-string fields read as ``{}``), with its line."""
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        for arg in call.args:
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                text = arg.value
            elif isinstance(arg, ast.JoinedStr):
                text = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in arg.values
                )
            else:
                continue
            if text.startswith("/proc"):
                yield call.lineno, text


def test_only_perfbench_measure_reads_proc_for_timing():
    """Steal, load and process-tree CPU come from ``perfbench/measure.py``
    alone; a second reader of ``/proc/stat`` or ``/proc/<pid>/stat``
    is a copy that can disagree with it (a tree walk that stops two
    levels below the driver misses the Arrow UDF workers). Static:
    parses the bench, the job, the tools and the package, no Spark
    session."""
    root = Path(entry.__file__).resolve().parent
    files = [
        root / "bench.py",
        root / "job.py",
        *sorted((root / "tools").glob("*.py")),
        *sorted((root / "metadata_quality_stack_spark").rglob("*.py")),
    ]
    found = [
        f"{f.relative_to(root)}:{line} {text}"
        for f in files
        for line, text in _proc_paths(ast.parse(f.read_text()))
    ]
    assert not found, f"/proc read outside perfbench/measure.py: {found}"


OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _layout_sites(tree: ast.AST):
    """(top-level def or module line, kind) for each top-level statement
    that names the partition-overwrite conf key or calls ``mkdtemp``."""
    for top in tree.body:
        kinds = set()
        for n in ast.walk(top):
            if isinstance(n, ast.Constant) and n.value == OVERWRITE_MODE:
                kinds.add("partitionOverwriteMode")
            elif isinstance(n, ast.Call) and "mkdtemp" in _referenced_names(n.func):
                kinds.add("mkdtemp")
        for kind in sorted(kinds):
            yield getattr(top, "name", f"line {top.lineno}"), kind


def test_only_store_owns_the_table_layout():
    """Dynamic partition overwrite and scratch table dirs come from
    ``sources/store.py`` alone; a second copy of the conf save/set/
    restore or of the mkdtemp/rmtree cycle is one that can drift from
    it. Static: parses the package and the job, no Spark session."""
    root = Path(entry.__file__).resolve().parent
    pkg = root / "metadata_quality_stack_spark"
    store = pkg / "sources" / "store.py"
    files = [root / "job.py", *sorted(pkg.rglob("*.py"))]
    found = [
        f"{f.relative_to(root)}:{name} {what}"
        for f in files
        if f != store
        for name, what in _layout_sites(ast.parse(f.read_text()))
    ]
    assert not found, f"table layout code outside sources/store.py: {found}"
    assert {what for _, what in _layout_sites(ast.parse(store.read_text()))} == {
        "partitionOverwriteMode", "mkdtemp",
    }


def _md5_prefix_sites(tree: ast.AST):
    """(line, kind) for each spelling of the md5-prefix integer: Spark's
    ``F.conv`` over a ``substring``, DuckDB's ``'0x' || substr(`` cast
    (every occurrence inside a string or f-string part) and Python's
    ``hashlib.md5``."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            func = n.func
            if (
                isinstance(func, ast.Attribute)
                and func.attr == "conv"
                and n.args
                and isinstance(n.args[0], ast.Call)
                and "substring" in _referenced_names(n.args[0].func)
            ):
                yield n.lineno, "F.conv(F.substring"
            elif (
                isinstance(func, ast.Attribute)
                and func.attr == "md5"
                and isinstance(func.value, ast.Name)
                and func.value.id == "hashlib"
            ):
                yield n.lineno, "hashlib.md5"
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            for _ in range(n.value.count("'0x' || substr(")):
                yield n.lineno, "'0x' || substr("


def test_only_hashing_spells_the_md5_prefix():
    """The integer from N hex digits of md5 is spelled once per engine,
    in ``functions/hashing.py``; a hand-written copy elsewhere is one
    that can drift from its twin in another engine unnoticed until
    both sides of a gate query drift differently. Static: parses the
    package, the job and the entry, no Spark session."""
    root = Path(entry.__file__).resolve().parent
    pkg = root / "metadata_quality_stack_spark"
    hashing = pkg / "functions" / "hashing.py"
    files = [root / "job.py", root / "__spark_entry__.py", *sorted(pkg.rglob("*.py"))]
    found = [
        f"{f.relative_to(root)}:{line} {what}"
        for f in files
        if f != hashing
        for line, what in _md5_prefix_sites(ast.parse(f.read_text()))
    ]
    assert not found, (
        f"{len(found)} md5-prefix hash sites outside functions/hashing.py: {found}"
    )
    assert {what for _, what in _md5_prefix_sites(ast.parse(hashing.read_text()))} == {
        "F.conv(F.substring", "hashlib.md5", "'0x' || substr(",
    }


_WS_RUN = "[ \t\n\r]+"
# BPE pre-tokenizer patterns: a different tokenizer (whitespace runs are
# one of its piece kinds), not a copy of the whitespace split
_OTHER_TOKENIZERS = {"BPE_PRETOKEN_RE", "BPE_NONWS_RE"}
_DOCUMENTED = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _ws_run_sites(tree: ast.AST) -> list[int]:
    """Line of each code string that spells the ``[ \\t\\n\\r]+`` run,
    written with escapes (a regex or SQL literal) or with the raw
    characters. Docstrings and the patterns named in
    ``_OTHER_TOKENIZERS`` are skipped; comments are not in the tree."""
    skip: set[int] = set()
    for n in ast.walk(tree):
        if isinstance(n, _DOCUMENTED) and ast.get_docstring(n) is not None:
            skip.add(id(n.body[0].value))
        if isinstance(n, ast.Assign) and any(
            getattr(t, "id", None) in _OTHER_TOKENIZERS for t in n.targets
        ):
            skip.update(id(c) for c in ast.walk(n.value))
    lines = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in skip:
            v = n.value.replace("\\t", "\t").replace("\\n", "\n").replace("\\r", "\r")
            if _WS_RUN in v:
                lines.append(n.lineno)
    return lines


_WS_RUN_PROBE = r'''"""Docstring: [ \t\n\r]+"""
A = "[ \\t\\n\\r]+"
B = r"[ \t\n\r]+"
C = "[ \t\n\r]+"
D = f"split({x}, '[ \\t\\n\\r]+')"
BPE_NONWS_RE = "[ \t\n\r]+"
'''


def test_only_text_spells_the_whitespace_split():
    """The whitespace token split and the lowercase collapse (runs of
    ``[ \\t\\n\\r]``) are spelled once per engine, in
    ``functions/text.py``; a hand-written copy elsewhere can drift from
    its twin in the other engine. Static: parses the package, the job
    and the entry, no Spark session."""
    assert _ws_run_sites(ast.parse(_WS_RUN_PROBE)) == [2, 3, 4, 5]
    root = Path(entry.__file__).resolve().parent
    pkg = root / "metadata_quality_stack_spark"
    text = pkg / "functions" / "text.py"
    files = [root / "job.py", root / "__spark_entry__.py", *sorted(pkg.rglob("*.py"))]
    found = [
        f"{f.relative_to(root)}:{line}"
        for f in files
        if f != text
        for line in _ws_run_sites(ast.parse(f.read_text()))
    ]
    assert not found, f"{len(found)} whitespace-run sites outside functions/text.py: {found}"


def _public_defaults(pkg: Path):
    """(module, function, positional params, {param: default node}) for
    every public top-level function of the package with a default."""
    for f in sorted(pkg.rglob("*.py")):
        mod = ".".join(f.relative_to(pkg).with_suffix("").parts)
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                a = node.args
                pos = [p.arg for p in a.posonlyargs + a.args]
                d = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                d.update((p.arg, v) for p, v in zip(a.kwonlyargs, a.kw_defaults) if v)
                if d:
                    yield mod, node.name, pos, d


def _literal_dicts(tree: ast.Module) -> dict[str, set[str]]:
    """Keys of each module-level ``NAME = dict(k=...)`` or
    ``NAME = {"k": ...}`` literal."""
    out = {}
    for n in tree.body:
        if not (isinstance(n, ast.Assign) and isinstance(n.targets[0], ast.Name)):
            continue
        v = n.value
        if isinstance(v, ast.Call) and getattr(v.func, "id", None) == "dict":
            if not v.args and all(k.arg for k in v.keywords):
                out[n.targets[0].id] = {k.arg for k in v.keywords}
        elif isinstance(v, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
        ):
            out[n.targets[0].id] = {k.value for k in v.keys}
    return out


def _default_census(root: Path) -> tuple[list[str], list[str]]:
    """(every defaulted parameter, those no call site sets), each as
    ``module.function(param)``. A call matches a function by its bare or
    attribute name and sets a parameter by keyword or by position; a
    ``*args`` argument sets every later position. A ``**NAME`` argument
    sets the keys of ``NAME`` when it is a module-level dict literal of
    the same file, and every parameter otherwise. Call sites: the
    package, the entry, the job, the bench, tools/, perfbench/ and
    tests/."""
    pkg = root / "metadata_quality_stack_spark"
    fns = list(_public_defaults(pkg))
    by_name: dict[str, list] = {}
    for mod, name, pos, d in fns:
        by_name.setdefault(name, []).append((mod, pos, d))
    files = [root / n for n in ("__spark_entry__.py", "job.py", "bench.py")]
    for d in ("metadata_quality_stack_spark", "tools", "perfbench", "tests"):
        files += sorted((root / d).rglob("*.py"))
    set_: set[str] = set()
    for f in files:
        tree = ast.parse(f.read_text())
        literals = _literal_dicts(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            fn = call.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            for mod, pos, d in by_name.get(name, ()):
                hit: set[str] = set()
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        hit.update(pos[i:])
                        break
                    hit.update(pos[i:i + 1])
                for kw in call.keywords:
                    if kw.arg is not None:
                        hit.add(kw.arg)
                    elif isinstance(kw.value, ast.Name) and kw.value.id in literals:
                        hit.update(literals[kw.value.id])
                    else:
                        hit.update(d)
                set_.update(f"{mod}.{name}({p})" for p in hit & d.keys())
    every = [f"{mod}.{name}({p})" for mod, name, _, d in fns for p in d]
    return every, [p for p in every if p not in set_]


def test_every_public_default_is_set_somewhere():
    """A defaulted parameter of a public package function that no call
    site sets is an option with one value in use: the body should read
    that value (a module constant when a Spark operator and its DuckDB
    twin share it), so the two engines agree by reading one name rather
    than by two copied defaults. Static: parses the repo, no Spark."""
    _, unset = _default_census(Path(entry.__file__).resolve().parent)
    assert not unset, f"{len(unset)} defaulted parameters no call site sets: {unset}"
