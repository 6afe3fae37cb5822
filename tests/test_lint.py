"""Mandate lints (BASELINE.json:15 / BASELINE.md 'vectorization
constraint'): the hot path must never contain a per-row Python UDF —
pandas/Arrow UDFs only. Enforced by source scan so a regression cannot
land silently."""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "spardaqus_spark"

# Per-row forms: F.udf(...), @udf(...), @F.udf, udf(lambda ...
PER_ROW_UDF = re.compile(
    r"(?<![\w.])(?:F\.)?udf\s*\(|@\s*(?:F\.)?udf\b"
)
# The sanctioned vectorized forms, to prove the lint isn't vacuous
VECTORIZED = re.compile(r"pandas_udf|mapInPandas|applyInPandas|mapInArrow")


def test_no_per_row_python_udfs():
    offenders = []
    vectorized_seen = 0
    for p in sorted(PKG.rglob("*.py")):
        src = p.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if PER_ROW_UDF.search(code) and "pandas_udf" not in code and "@udtf" not in code:
                offenders.append(f"{p.name}:{i}: {line.strip()}")
        vectorized_seen += len(VECTORIZED.findall(src))
    assert not offenders, "per-row Python UDFs are forbidden:\n" + "\n".join(offenders)
    assert vectorized_seen >= 8, "lint sanity: vectorized UDF usage should exist"


ROW_LOOP = re.compile(
    r"for\s+[\w, ]+\s+in\s+(?:zip\s*\(\s*)?pdf\s*\[|\.iterrows\(\)|\.itertuples\("
)


def test_no_per_row_batch_iteration():
    """Round-2 rule (VERDICT r01 'What's wrong' #3): kernels must not
    iterate Python-side over Arrow batch columns (`for x in pdf[...]`,
    iterrows, itertuples). Flat-array NumPy over the whole batch only —
    see kernels/multimodal.py for the sanctioned pattern."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ROW_LOOP.search(code):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, (
        "per-row iteration over batch columns is forbidden:\n"
        + "\n".join(offenders)
    )


def test_no_nondeterministic_expressions():
    """Round-3 rule (VERDICT r02 #2 / ADVICE r02): no Catalyst-
    nondeterministic expressions in the package. monotonically_increasing_id
    and rand() re-evaluate differently on task recompute, which breaks
    retry-safety for anything derived from them (e.g. salts) and blocks
    filter pushdown through their projection. Salts must be content
    hashes (operators/saltops.py:_content_salt)."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(
                r"monotonically_increasing_id|(?<![\w.])F\.(?:rand|randn)\s*\(",
                code,
            ):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, (
        "nondeterministic Catalyst expressions are forbidden:\n"
        + "\n".join(offenders)
    )


def test_no_rdd_api_in_hot_path():
    """RDD API bypasses Catalyst/Arrow (SURVEY §1.3). The single sanctioned
    use is the tiny driver-side JSON-batch envelope in sources/io.py.
    `.rdd.getNumPartitions()` is additionally sanctioned (r6): it is
    metadata-only plan introspection — no data crosses the RDD path — and
    queries.spread needs it to decide whether a scan is under-split."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "io.py":
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            code = code.replace(".rdd.getNumPartitions()", "")
            if re.search(r"\.rdd\b|parallelize\s*\(|mapPartitions\s*\(", code):
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, "RDD API in hot path:\n" + "\n".join(offenders)


# createDataFrame over a Python list/tuple/comprehension serializes the rows
# through a Python-RDD `parallelize` — a Python worker task per call. The
# commit paths build their small driver-side frames from pandas instead
# (Arrow -> LocalTableScan, no Python worker).
PY_LIST_CREATE = re.compile(r"createDataFrame\(\s*[\[(]")
COMMIT_PATHS = ("pipeline.py", "plans", "streaming")


def test_no_python_list_create_dataframe_in_commit_paths():
    """A sanctioned exception carries a `py-rdd-ok:` comment (with its
    reason) on the call line or the line above it."""
    assert PY_LIST_CREATE.search('spark.createDataFrame(\n    [(1,)], "a int")')
    assert not PY_LIST_CREATE.search("spark.createDataFrame(pdf, SCHEMA)")
    offenders, scanned = [], 0
    for rel in COMMIT_PATHS:
        root = PKG / rel
        for p in sorted([root] if root.is_file() else root.rglob("*.py")):
            scanned += 1
            src = p.read_text()
            lines = src.splitlines()
            for m in PY_LIST_CREATE.finditer(src):
                i = src.count("\n", 0, m.start())
                if "py-rdd-ok:" in lines[i] or (i and "py-rdd-ok:" in lines[i - 1]):
                    continue
                offenders.append(f"{p.relative_to(PKG)}:{i + 1}: {lines[i].strip()}")
    assert scanned >= 4, "lint sanity: commit-path modules should be scanned"
    assert not offenders, (
        "createDataFrame over a Python list runs a Python-RDD parallelize "
        "per call; build a pandas frame instead:\n" + "\n".join(offenders)
    )


REPO = PKG.parent
DAEMON_CONF = re.compile(r"""(?:["']|--conf[ =]\s*)spark\.python\.daemon\.module\b""")


def test_daemon_module_set_only_in_session():
    """Which daemon runs the Python workers is decided in one place
    (`session.get_spark`: local masters only). Reading the setting is fine."""
    offenders, found = [], 0
    for p in sorted(REPO.rglob("*")):
        rel = p.relative_to(REPO)
        if (p.suffix not in (".py", ".sh", ".yaml", ".conf") or rel.parts[0] == "tests"
                or any(part.startswith(".") for part in rel.parts)):
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if DAEMON_CONF.search(line) and "conf.get(" not in line:
                if rel == Path("spardaqus_spark/session.py"):
                    found += 1
                else:
                    offenders.append(f"{rel}:{i}: {line.strip()}")
    assert found == 1, "session.py should set the worker daemon module once"
    assert not offenders, "worker daemon module set outside session.py:\n" + "\n".join(offenders)


def _non_stdlib_imports(tree) -> list:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = ["." if node.level else node.module]
        else:
            continue
        if any(n.split(".")[0] not in sys.stdlib_module_names for n in names):
            out.append(node)
    return out


def test_pydaemon_imports_only_stdlib_before_path_fix():
    """`python -m spardaqus_spark.pydaemon` runs the package __init__ and
    the daemon module before the archives leave sys.path: a pyspark (or any
    non-stdlib) import there would load from Spark's zip and silently undo
    the fix. The one allowed non-stdlib import is in main(), after it."""
    init = ast.parse((PKG / "__init__.py").read_text())
    assert not _non_stdlib_imports(init), "spardaqus_spark/__init__.py must import stdlib only"
    tree = ast.parse((PKG / "pydaemon.py").read_text())
    main = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main")
    fix = next(
        n.lineno for n in ast.walk(main)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "drop_archives"
    )
    late = _non_stdlib_imports(tree)
    assert late, "lint sanity: main() should import pyspark.daemon"
    assert all(n.lineno > fix and main.lineno <= n.lineno <= main.end_lineno for n in late), (
        "non-stdlib import before drop_archives() in pydaemon.py: lines "
        + ", ".join(str(n.lineno) for n in late if n.lineno <= fix)
    )
