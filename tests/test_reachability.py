"""Every top-level definition in ``pdf_ocr_spark`` is reachable from the
program's roots, or is named in ``ALLOWED`` with its reason.

Pure AST, no Spark. The roots are the entry module
(``__spark_entry__.py``: ``entry``, ``queries()``, the oracles),
``bench.py``, ``scripts/*.py`` and ``perfbench/*.py``, read whole. A package definition (function, class or
module-level assigned name) is reached when its identifier appears, as a
name, attribute or string constant, in a root, in the package's
module-level code (anything but a definition or an import) or in a
decorated definition (decorators register), or in the body of a
definition already reached. Matching is by identifier, not by module,
so the check can only err towards "reached". Tests are not roots: code
that only a test calls is dead code with a test.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "pdf_ocr_spark")
ROOT_FILES = ["__spark_entry__.py", "bench.py", "scripts/*.py", "perfbench/*.py"]

#: Definitions no root reaches that stay on purpose: name -> reason.
ALLOWED = {
    # spec cores and encoders that tests pin the engine against
    "_aes_encrypt_block": "FIPS-197 reference cipher; pins the S-box and key schedule the CBC path uses",
    "_aes_decrypt_block": "FIPS-197 reference inverse cipher, checked on the same vectors",
    "select_dpi": "oracle spec of the reference's DPI rule (M8)",
    "asciihex_encode": "builds ASCIIHexDecode round-trip inputs for the decoder",
    "apply_merges": "replays learned BPE merges on one word; the trainer is checked with it",
    "simhash_from_tokens": "SimHash of a token array; checks the Hamming join is pigeonhole-complete",
    "hocr_doc_col": "whole-document hOCR scaffold over the per-page hOCR rows",
    "_HOCR_HEAD": "the hOCR document header hocr_doc_col writes",
    "parse_sitemap_index": "sitemap-index parser next to the urlset parser a query uses",
}


def _uses(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level def, class or assignment defines."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def unreached() -> set[str]:
    """Top-level package definitions that no root reaches."""
    defs: dict[str, list[ast.AST]] = {}
    seeds: set[str] = set()
    for path in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _defined(stmt)
            if not names:
                seeds |= _uses(stmt)
            for name in names:
                defs.setdefault(name, []).append(stmt)
                if getattr(stmt, "decorator_list", None):
                    seeds.add(name)
    for pattern in ROOT_FILES:
        for path in glob.glob(os.path.join(REPO, pattern)):
            with open(path, encoding="utf-8") as f:
                seeds |= _uses(ast.parse(f.read(), path))

    reached: set[str] = set()
    todo = [n for n in seeds if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs[name]:
            todo.extend(u for u in _uses(node) if u in defs and u not in reached)
    return set(defs) - reached - {"__all__"}


def test_every_definition_is_reached_or_allowed():
    dead = unreached()
    extra = sorted(dead - set(ALLOWED))
    assert not extra, f"reached only from tests, or from nothing: {extra}"
    stale = sorted(set(ALLOWED) - dead)
    assert not stale, f"in ALLOWED but reached: {stale}"
