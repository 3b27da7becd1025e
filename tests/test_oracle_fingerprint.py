"""--changed-only fingerprint must see TRANSITIVE engine-library edits
(VERDICT r10 ask #5): check_oracle.py's per-query fingerprint hashes
the query module plus every engine module it statically imports, so a
dataops/ edit can no longer silently skip re-verification during local
iteration.  No Spark needed — these exercise the static import walk."""

from __future__ import annotations

import importlib.util
import os
import sys
import textwrap

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)


def _load_check_oracle():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


co = _load_check_oracle()


def _mk_pkg(root, files: dict[str, str]) -> None:
    for rel, src in files.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(textwrap.dedent(src))


def test_library_edit_invalidates_digest(tmp_path):
    """Editing a module the query module imports (directly or two hops
    away) changes the deps digest; editing an unimported module does
    not."""
    pkg = "credit_card_etl_pipeline_spark"
    _mk_pkg(tmp_path, {
        f"{pkg}/__init__.py": "",
        f"{pkg}/dataops/__init__.py": "",
        f"{pkg}/dataops/lib.py": "from .deep import Y\nX = 1\n",
        f"{pkg}/dataops/deep.py": "Y = 2\n",
        f"{pkg}/dataops/unrelated.py": "Z = 3\n",
        f"{pkg}/queries/__init__.py": "",
        f"{pkg}/queries/q.py": (
            f"from ..dataops import lib\n"
            f"from {pkg}.dataops.lib import X\n"
            "def run():\n    return X\n"
        ),
    })
    qfile = str(tmp_path / pkg / "queries" / "q.py")
    root = str(tmp_path)

    def digest():
        co._DEPS_DIGEST_CACHE.clear()
        return co._engine_deps_digest(qfile, root=root, pkg=pkg)

    base = digest()
    # direct dep edit -> digest moves
    (tmp_path / pkg / "dataops" / "lib.py").write_text(
        "from .deep import Y\nX = 10\n"
    )
    after_lib = digest()
    assert after_lib != base
    # TRANSITIVE dep edit (two hops: q -> lib -> deep) -> digest moves
    (tmp_path / pkg / "dataops" / "deep.py").write_text("Y = 20\n")
    after_deep = digest()
    assert after_deep != after_lib
    # unimported sibling edit -> digest unchanged
    (tmp_path / pkg / "dataops" / "unrelated.py").write_text("Z = 30\n")
    assert digest() == after_deep
    # ancestor package __init__ is part of the closure (import side
    # effects execute it)
    (tmp_path / pkg / "dataops" / "__init__.py").write_text("# side\n")
    assert digest() != after_deep


def test_real_query_closure_covers_operator_libs():
    """The real registry: a merchant-family query's closure must include
    the operator libraries it delegates to."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qmod = os.path.join(
        repo, "credit_card_etl_pipeline_spark", "queries",
        "merchant_queries.py",
    )
    co._DEPS_DIGEST_CACHE.clear()
    # reconstruct the walk's visited set by running it and reading the
    # cache key's digest twice with a probe edit is overkill here —
    # instead assert via the internal walk primitives
    deps = co._module_imports(
        qmod, "credit_card_etl_pipeline_spark.queries.merchant_queries",
        repo, co._ENGINE_PKG,
    )
    assert "credit_card_etl_pipeline_spark.operators.merchants" in deps
    assert "credit_card_etl_pipeline_spark.operators.rfm" in deps


def test_fingerprint_moves_with_library(tmp_path, monkeypatch):
    """End to end at the _fingerprint level: same function object, same
    oracle, same sf — a dependency-library byte change flips the
    fingerprint."""
    pkg = "credit_card_etl_pipeline_spark"
    qsrc = (
        "try:\n"
        "    from ..dataops.lib import X\n"
        "except ImportError:\n"
        "    X = 1\n"
        "def runq(spark, sf):\n"
        "    return X\n"
    )
    _mk_pkg(tmp_path, {
        f"{pkg}/__init__.py": "",
        f"{pkg}/dataops/__init__.py": "",
        f"{pkg}/dataops/lib.py": "X = 1\n",
        f"{pkg}/queries/__init__.py": "",
        f"{pkg}/queries/q.py": qsrc,
    })
    qfile = str(tmp_path / pkg / "queries" / "q.py")
    # exec the file so inspect.getfile(fn) -> qfile (the relative
    # import has no package context and falls to the except arm)
    ns: dict = {"__name__": "synthq"}
    exec(compile(qsrc, qfile, "exec"), ns)
    fn = ns["runq"]

    real = co._engine_deps_digest

    def patched(mod_file, root=None, pkg_=pkg):
        co._DEPS_DIGEST_CACHE.clear()
        return real(mod_file, root=str(tmp_path), pkg=pkg)

    monkeypatch.setattr(co, "_engine_deps_digest", patched)
    fp1 = co._fingerprint(fn, "SELECT 1", "sfX")
    (tmp_path / pkg / "dataops" / "lib.py").write_text("X = 2\n")
    fp2 = co._fingerprint(fn, "SELECT 1", "sfX")
    assert fp1 != fp2
