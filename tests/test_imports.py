"""Every ``from corenlp_spark.… import name`` in the tree resolves — the
lazy ones inside functions too, which would otherwise fail only when the
function first runs."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _sources():
    for d in ("corenlp_spark", "scripts", "tests"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield from sorted(ROOT.glob("*.py"))


def _package_imports():
    """(file, line, module, name) per imported name; name None for a plain
    ``import corenlp_spark.x``."""
    for path in _sources():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        where = path.relative_to(ROOT)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if node.level == 0 and node.module.split(".")[0] == "corenlp_spark":
                    for alias in node.names:
                        yield where, node.lineno, node.module, alias.name
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "corenlp_spark":
                        yield where, node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    # a submodule not yet imported by its package
    return hasattr(mod, "__path__") and \
        importlib.util.find_spec(f"{module}.{name}") is not None


def test_package_imports_resolve():
    imports = list(_package_imports())
    assert len(imports) > 100, "the walk missed the tree"
    bad = [f"{p}:{line}: from {m} import {n}" for p, line, m, n in imports
           if not _resolves(m, n)]
    assert not bad, "\n".join(bad)


def test_curation_functions_leave_the_nlp_layer_unimported():
    """The curation text kernels run in workers that should not pay for
    the NLP layer: importing ``dedup``, ``decontam`` and ``textstats``
    (where ``text_rows`` lives) imports neither ``plans.fused`` nor the
    tokenizer."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import corenlp_spark.functions.dedup, corenlp_spark.functions.decontam, "
        "corenlp_spark.functions.textstats\n"
        "print(sorted(m for m in ('corenlp_spark.plans.fused', "
        "'corenlp_spark.operators.tokenize') if m in sys.modules))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"
