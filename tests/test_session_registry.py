"""The session-state registry rule: every value the engine reuses
across query builds lives in ``session``'s one registry, and one
``invalidate(spark, sf_dir)`` drops all of it for that dataset."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import morphl_community_edition_spark as pkg

PKG = Path(pkg.__file__).parent


def _is_weak_key_dict(node: ast.AST | None) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
    return name == "WeakKeyDictionary"


def _registry_namespaces() -> set[str]:
    """Every namespace literal passed to ``memo(spark, "<ns>", ...)``
    anywhere in the package."""
    pat = re.compile(r"\bmemo\(\s*[\w.]+,\s*\"([\w.]+)\"")
    return {ns for p in PKG.rglob("*.py") for ns in pat.findall(p.read_text())}


def test_one_registry_invalidates_every_namespace(spark, tmp_path):
    from morphl_community_edition_spark import session
    from morphl_community_edition_spark.catalog import TABLES, ensure_views, load_table
    from morphl_community_edition_spark.operators.dedup import _memo_count
    from morphl_community_edition_spark.plans.hints import fan_out_narrow_scan
    from morphl_community_edition_spark.queries.pipeline_ops import _doc_count
    from morphl_community_edition_spark.sources.stream import read_table_stream
    from tests.conftest import SF_DIR_SMOKE

    # no module-level memo outside session.py
    for path in PKG.rglob("*.py"):
        if path.name == "session.py" and path.parent == PKG:
            continue
        for stmt in ast.parse(path.read_text()).body:
            value = stmt.value if isinstance(stmt, (ast.Assign, ast.AnnAssign)) else None
            assert not _is_weak_key_dict(value), (
                f"{path.relative_to(PKG)}:{stmt.lineno} keeps a module-level "
                "WeakKeyDictionary — use session.memo"
            )
    # catalog owns invalidation without knowing any query or operator
    for node in ast.walk(ast.parse((PKG / "catalog.py").read_text())):
        if isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        else:
            continue
        for mod in mods:
            assert ".queries" not in mod and ".operators" not in mod, (
                f"catalog.py imports {mod}"
            )

    # populate every namespace for two datasets in a private session
    s = spark.newSession()
    s.conf.set("spark.morphl.indexRoot", str(tmp_path / "index"))
    dirs = [tmp_path / "a", tmp_path / "b"]
    for d in dirs:
        d.mkdir()
        for t in TABLES:
            os.symlink(f"{SF_DIR_SMOKE}/{t}.parquet", d / f"{t}.parquet")
        sf_dir = str(d)
        docs = load_table(s, sf_dir, "documents")
        ensure_views(s, sf_dir)
        _doc_count(s, sf_dir, docs)
        _memo_count(docs)
        fan_out_narrow_scan(docs)
        read_table_stream(s, sf_dir, "events")
        session.artifact(
            s, "morphl_registry_test", sf_dir, build=os.makedirs, committed=os.path.isdir
        )
    entries = dict(session._REGISTRY[s])
    assert {k[0] for k in entries} == _registry_namespaces()
    a, b = map(str, dirs)
    assert {k[0] for k in entries if k[1] == a} == {k[0] for k in entries if k[1] == b}

    dropped = session.invalidate(s, a)
    left = session._REGISTRY[s]
    assert dropped == sum(1 for k in entries if k[1] in (a, None))
    assert not [k for k in left if k[1] in (a, None)], "entries survived invalidate"
    assert {k: v for k, v in entries.items() if k[1] == b} == dict(left), (
        "invalidate touched another sf_dir's entries"
    )

    # a dropped artifact is rebuilt on next use; b's is served as is
    built: list[str] = []
    for d in (a, b):
        session.artifact(
            s, "morphl_registry_test", d, build=built.append, committed=os.path.isdir
        )
    assert built == [session.artifact(s, "morphl_registry_test", a)]
    n = len(session._REGISTRY[s])
    assert session.invalidate(s) == n and not session._REGISTRY[s]
