"""The environment variables the package reads are a fixed, reviewed set.

Walks every module under darkbo_spark/ with `ast` and collects each
`os.environ.get(NAME)`, `os.environ[NAME]` and `os.getenv(NAME)` read,
resolving NAME through the module's string constants. A new env knob
fails this test until it is added to ALLOWED on purpose; a read whose
name cannot be resolved statically fails it too. The same walk ratchets
the package's settable values (test_settable_values_do_not_grow).
"""

import ast
import pathlib

import darkbo_spark

ALLOWED = {
    # deployment settings (session.py)
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_DRIVER_MEM",
    # storage backend (storage/__init__.py)
    "DARKBO_STORAGE_BACKEND",
    # public-suffix-list file (operators/domains.py)
    "DARKBO_PSL_FILE",
    # model seams: real backends behind the deterministic defaults
    "DARKBO_REAL_TOKENIZER",
    "DARKBO_TOKENIZER_NAME",
    "DARKBO_REAL_EMBED",
    "DARKBO_EMBED_MODEL",
    "DARKBO_REAL_QUALITY",
    "DARKBO_QUALITY_MODEL",
}

# the settable-value count (test_settable_values_do_not_grow) may only
# fall; lower this when an option goes
MAX_SETTABLE = 240


def _env_reads(tree: ast.Module) -> set[str]:
    consts = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def name_of(arg: ast.expr) -> str:
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        if isinstance(arg, ast.Name) and arg.id in consts:
            return consts[arg.id]
        return f"<unresolved: {ast.unparse(arg)}>"

    parents = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }

    def call_arg(func: ast.expr) -> str:
        call = parents.get(func)
        if isinstance(call, ast.Call) and call.func is func and call.args:
            return name_of(call.args[0])
        return f"<unresolved: {ast.unparse(func)}>"

    found = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        if node.attr == "getenv":
            found.add(call_arg(node))
        elif node.attr == "environ":
            up = parents.get(node)
            if isinstance(up, ast.Subscript):
                found.add(name_of(up.slice))
            elif isinstance(up, ast.Attribute):
                found.add(call_arg(up))
            else:
                found.add(f"<unresolved: {ast.unparse(node)}>")
    return found


def _package_trees():
    root = pathlib.Path(darkbo_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield str(path.relative_to(root)), ast.parse(path.read_text(), str(path))


def _defaulted_params(tree: ast.Module) -> int:
    return sum(
        len(node.args.defaults)
        + sum(d is not None for d in node.args.kw_defaults)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    )


def test_env_reads_match_allow_list():
    reads = {}
    for rel, tree in _package_trees():
        for name in _env_reads(tree):
            reads.setdefault(name, []).append(rel)
    assert set(reads) == ALLOWED, {
        "unlisted": {n: reads[n] for n in set(reads) - ALLOWED},
        "listed but never read": sorted(ALLOWED - set(reads)),
    }


def test_env_scan_catches_a_new_knob():
    src = (
        "import os\n"
        "KNOB = 'DARKBO_NEW_KNOB'\n"
        "a = os.environ.get(KNOB, '1')\n"
        "b = os.environ['DARKBO_OTHER']\n"
        "c = __import__('os').getenv('DARKBO_THIRD')\n"
        "d = os.environ.get(name_from_somewhere)\n"
    )
    assert _env_reads(ast.parse(src)) == {
        "DARKBO_NEW_KNOB",
        "DARKBO_OTHER",
        "DARKBO_THIRD",
        "<unresolved: name_from_somewhere>",
    }


def test_settable_values_do_not_grow():
    """The ratchet on "no option without a caller". A settable value is
    either a defaulted parameter — a positional default or a keyword-only
    default of any `def` under darkbo_spark/ (functions, methods and
    nested functions; lambdas are not counted) — or one environment
    variable the package reads (distinct names, as _env_reads finds
    them). Fails when the total rises above MAX_SETTABLE."""
    trees = list(_package_trees())
    params = sum(_defaulted_params(t) for _rel, t in trees)
    env = set().union(*(_env_reads(t) for _rel, t in trees))
    assert params + len(env) <= MAX_SETTABLE, (params, sorted(env))


def test_settable_count_method():
    src = (
        "import os\n"
        "def f(a, b=1, *, c=2, d): pass\n"
        "class K:\n"
        "    def m(self, x=None):\n"
        "        def inner(y=0): pass\n"
        "g = lambda z=1: z\n"
    )
    assert _defaulted_params(ast.parse(src)) == 4


def test_spark_cpus_default_to_this_machine(monkeypatch):
    """Without SPARK_GRAFT_CPUS, local mode gets one task slot per core."""
    import os

    from darkbo_spark.session import _cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3


def test_bad_spark_cpus_names_the_variable(monkeypatch):
    import pytest

    from darkbo_spark.session import get_spark

    for bad in ("four", "2.5", "0", "-1", "", "²"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            get_spark(master="local[1]")
