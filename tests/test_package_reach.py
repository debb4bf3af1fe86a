"""Every package definition is reached by a surface, or declared.

A surface is what runs the package outside its tests: the query
registry and the daily DAG (reached through package code itself),
``bench.py``, ``perfbench/*.py`` and the driver contract
``__spark_entry__.py``. A definition is a top-level ``def``, ``class``
or module-level name of the package. It is reached when its name
appears as an identifier (a ``Name``, an attribute, or an
identifier-shaped string such as the ``getattr(module,
"LOCAL_QUERIES")`` of the registry and the perfbench tracer) either in
a surface file, in module-level package code outside any definition,
or in the body of a definition that is itself reached. Reach cascades:
a name used only inside unreached code is unreached too. Imports,
``__init__`` re-exports and ``__all__`` reach nothing; an import alias
(``from m import x as _x``) counts a use of ``_x`` as a use of ``x``.

The scan is pure AST (no Spark, no imports of the package). It matches
by bare name, not by module, so two definitions sharing a name are both
reached when either name is used: a collision errs toward "reached",
never toward a false failure.

``DECLARED`` lists the definitions kept although no surface reaches
them, each with its reason. Anything else a surface does not reach is
either wired into a surface or deleted together with its tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "hdb_resale_price_data_pipeline_spark"
SURFACES = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

_API = (
    "the reference's data.gov.sg ingest path (download_historical_data.py, "
    "COVERAGE S5); no surface downloads"
)
_HASH_SPEC = (
    "Spark-expression reference that tests/test_arrow_text.py holds the "
    "reached Arrow kernel bit-identical to"
)
_LAYOUT = "reached from tools/scale_probe.py; ROADMAP direction 7 decides its fate"

DECLARED = {
    "sources.api.COLLECTION_URL": _API,
    "sources.api.INITIATE_URL": _API,
    "sources.api.POLL_URL": _API,
    "sources.api.FetchBytes": _API,
    "sources.api.FetchJson": _API,
    "sources.api.list_dataset_ids": _API,
    "sources.api.download_dataset_csv": _API,
    "sources.api.download_collection": _API,
    "functions.bedrooms.clean_bedrooms_pandas_udf": (
        "the reference's bedrooms UDF; parity reference for clean_bedrooms_expr"
    ),
    "functions.bedrooms._clean_bedrooms_batch": "body of clean_bedrooms_pandas_udf",
    "functions.hashing.shingle_codes": _HASH_SPEC,
    "functions.hashing.fold_codes": _HASH_SPEC,
    "functions.hashing.band_keys_from_codes": _HASH_SPEC,
    "functions.hashing.token_hashes": _HASH_SPEC,
    "operators.decontam.doc_shingle_hashes": _HASH_SPEC,
    "sources.layout.write_zordered": _LAYOUT,
    "sources.layout.write_hilbert_ordered": _LAYOUT,
    "sources.layout.rowgroup_prune_fraction": _LAYOUT,
    "sources.layout.zorder_key": _LAYOUT,
    "sources.layout.hilbert_key": _LAYOUT,
    "sources.layout._hilbert_index_np": _LAYOUT,
    "sources.layout._scale_expr": _LAYOUT,
}


def _aliases(tree: ast.AST) -> dict[str, str]:
    return {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }


def _identifiers(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out | {aliases[i] for i in out if i in aliases}


def _scan_package() -> tuple[dict[str, tuple[str, set[str]]], set[str]]:
    """``({"module.name": (name, identifiers in its body)}, identifiers
    in module-level code outside every definition)``."""
    defs: dict[str, tuple[str, set[str]]] = {}
    loose: set[str] = set()

    def visit(module: str, body: list[ast.stmt], aliases: dict[str, str]) -> None:
        for st in body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{module}.{st.name}"] = (st.name, _identifiers(st, aliases))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [
                    e.id
                    for t in targets
                    for e in (t.elts if isinstance(t, ast.Tuple) else [t])
                    if isinstance(e, ast.Name)
                ]
                if names == ["__all__"]:
                    continue
                if names and not any(n.startswith("__") for n in names):
                    value = _identifiers(st.value, aliases) if st.value else set()
                    for n in names:
                        defs[f"{module}.{n}"] = (n, value)
                else:
                    loose.update(_identifiers(st, aliases))
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(st, ast.If):
                loose.update(_identifiers(st.test, aliases))
                visit(module, st.body, aliases)
                visit(module, st.orelse, aliases)
            elif isinstance(st, ast.Try):
                handlers = [h.body for h in st.handlers]
                for block in (st.body, *handlers, st.orelse, st.finalbody):
                    visit(module, block, aliases)
            elif isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant):
                continue  # module docstring
            else:
                loose.update(_identifiers(st, aliases))

    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        tree = ast.parse(path.read_text())
        visit(module, tree.body, _aliases(tree))
    return defs, loose


def unreached() -> set[str]:
    defs, reached = _scan_package()
    for path in SURFACES:
        tree = ast.parse(path.read_text())
        reached |= _identifiers(tree, _aliases(tree))
    done: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, body) in defs.items():
            if key not in done and name in reached:
                done.add(key)
                reached |= body
                grew = True
    return set(defs) - done


@pytest.mark.core
def test_every_unreached_definition_is_declared():
    found = unreached()
    assert not found - DECLARED.keys(), (
        "package definitions no surface reaches (wire them into a surface, "
        f"delete them, or declare them): {sorted(found - DECLARED.keys())}"
    )
    assert not DECLARED.keys() - found, (
        f"declared but reached or gone (drop from DECLARED): "
        f"{sorted(DECLARED.keys() - found)}"
    )
