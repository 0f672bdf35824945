"""Package code that only tests reach is dead weight: every top-level
function in `ts2g2_spark` must be reached from the programs that run it,
or carry a row in `ALLOWED` that says why it stays.

The pass is name-based and static.  Its roots are the contract
(`__spark_entry__.py`), `bench.py`, `jobs/`, `perfbench/`, `scripts/`,
`BENCH/` and the package's module-level code (everything outside a
top-level function body, decorators and defaults included).  A root, or a
reached function's body, reaches every package top-level function whose
name it mentions: as a bare name, an attribute, an import alias, or a
string that is exactly the name (`getattr(mod, "name")`).  Matching by
name over-approximates reachability, so an unreached function is surely
unused by those programs.

Functions reached only through an allow-listed one (its private helpers)
come with it.  An allow-list row whose function is reached anyway, or no
longer exists, fails too, so the list cannot rot.

Run `python tests/test_reachability.py` to print the unreached set.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "ts2g2_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("jobs", "perfbench", "scripts", "BENCH")

_SKETCH_ORACLE = "pure-Python sketch the sketch tests use as their oracle"
_PAPER_INPUT = "series reader of the paper's input surface (SURVEY section 2)"
ALLOWED: dict[str, str] = {
    "operators.sketches.hll_py": _SKETCH_ORACLE,
    "operators.sketches.cms_py": _SKETCH_ORACLE,
    "operators.sketches.bloom_py": _SKETCH_ORACLE,
    "operators.sketches.bloom_py_contains": _SKETCH_ORACLE,
    "operators.sketches.kmv_py": _SKETCH_ORACLE,
    "operators.sketches.hdr_py": _SKETCH_ORACLE,
    "operators.bpe.pair_counts":
        "relational pair count, test_bpe's oracle for the counting kernel",
    "functions.codecs.int_array_roundtrip_ok":
        "BASELINE.json's per-row token round-trip invariant",
    "operators.similarity.ivf_seed_plan":
        "plan string of the IVF seeding step; test_similarity checks it "
        "is a per-partition top-K",
    "sources.io.read_csv_series": _PAPER_INPUT,
    "sources.io.series_from_array": _PAPER_INPUT,
    "sources.io.read_ts": _PAPER_INPUT,
    "sources.io.ts_first_series": _PAPER_INPUT,
    "sources.io.read_financial_xml": _PAPER_INPUT,
    "operators.kernels.qg_transitions":
        "reference-shaped QG transitions the parity suite pins",
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


def _names(nodes) -> set[str]:
    """Every name the given AST nodes mention."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
                if n.asname:
                    out.add(n.asname)
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and _IDENT.match(n.value)):
                out.add(n.value)
    return out


def _module_level(tree: ast.Module) -> list[ast.AST]:
    """The parts of a module that run at import: all but the bodies of
    its top-level functions."""
    keep: list[ast.AST] = []
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
            keep += st.decorator_list + st.args.defaults
            keep += [d for d in st.args.kw_defaults if d is not None]
        else:
            keep.append(st)
    return keep


def package_functions() -> dict[str, tuple[str, set[str]]]:
    """qualified name -> (bare name, names its body mentions)."""
    funcs: dict[str, tuple[str, set[str]]] = {}
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        mod = ".".join(path.relative_to(ROOT / PACKAGE).with_suffix("").parts)
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs[f"{mod}.{st.name}"] = (st.name, _names([st]))
    return funcs


def root_names() -> set[str]:
    files = [ROOT / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        files += sorted((ROOT / d).rglob("*.py"))
    names: set[str] = set()
    for path in files:
        names |= _names([ast.parse(path.read_text())])
    for path in (ROOT / PACKAGE).rglob("*.py"):
        names |= _names(_module_level(ast.parse(path.read_text())))
    return names


def reached(funcs, names: set[str], extra: set[str] = frozenset()
            ) -> set[str]:
    """Qualified names reached from `names` and the functions `extra`."""
    seen: set[str] = set()
    todo = set(extra) | {q for q, (n, _) in funcs.items() if n in names}
    names = set(names)
    while todo:
        q = todo.pop()
        if q in seen:
            continue
        seen.add(q)
        new = funcs[q][1] - names
        names |= new
        todo |= {p for p, (n, _) in funcs.items() if n in new} - seen
    return seen


def unreached() -> set[str]:
    funcs = package_functions()
    return set(funcs) - reached(funcs, root_names())


def test_every_package_function_is_reached_or_allowed():
    funcs = package_functions()
    names = root_names()
    kept = reached(funcs, names, set(ALLOWED) & set(funcs))
    dead = sorted(set(funcs) - kept)
    assert not dead, (
        "package functions that no job, query, benchmark or script "
        f"reaches: {dead}; delete them, give them a caller, or add an "
        "ALLOWED row with the reason they stay")


def test_allow_list_rows_are_live():
    funcs = package_functions()
    gone = sorted(set(ALLOWED) - set(funcs))
    assert not gone, f"ALLOWED rows for functions that do not exist: {gone}"
    live = sorted(set(ALLOWED) & reached(funcs, root_names()))
    assert not live, f"ALLOWED rows for functions the roots reach: {live}"


if __name__ == "__main__":
    for q in sorted(unreached()):
        print(q)
