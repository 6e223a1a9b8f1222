"""No-Spark lint: one block-pair matmul scorer in the package.

``operators/blockpairs.py`` holds the only block-pair matmul path: its
kernel scores a row-block pair and masks the diagonal block to its
strict upper triangle with ``np.triu(``. A second scorer (a doc x
vocabulary matrix, a ``(bi, bj)`` fan-out, a matmul per pair) needs that
mask too, so the mask is what this lint looks for. The one other
sanctioned mask is ``operators/similarity.py:_bucket_pair_scores``: its
dimension-sequential sums are bit-equal to ``cosine_similarity_expr``,
a contract a BLAS product would break.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dataintegration_csvprovider_spark"

#: (file relative to the package, enclosing top-level function or None
#: for anywhere in the file) where a triangle mask may appear
ALLOWED = {
    ("operators/blockpairs.py", None),
    ("operators/similarity.py", "_bucket_pair_scores"),
}


def triangle_masks(src: str, name: str) -> list[str]:
    """``name:line in function`` for every ``np.triu(`` call in ``src``
    outside :data:`ALLOWED`."""
    tree = ast.parse(src)
    found = []
    for top in tree.body:
        for node in ast.walk(top):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "triu"
            ):
                continue
            func = getattr(top, "name", None)
            if (name, None) in ALLOWED or (name, func) in ALLOWED:
                continue
            found.append(f"{name}:{node.lineno} in {func}")
    return found


def test_one_block_pair_scorer():
    found = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        found += triangle_masks(p.read_text(), rel)
    assert not found, (
        "score block pairs with operators/blockpairs.py (driver_block_pairs"
        " or executor_block_pairs and a keep predicate), not a private "
        "triangle-masked matmul:\n" + "\n".join(found)
    )


def test_lint_flags_a_private_scorer():
    twin = '''
def _my_pairs(W, block):
    import numpy as np
    def score(bi, bj):
        keep = W[bi] @ W[bj].T >= 0.5
        if bi == bj:
            keep &= np.triu(np.ones(keep.shape, dtype=bool), k=1)
        return keep
    return score
'''
    assert triangle_masks(twin, "queries/llm.py") == ["queries/llm.py:7 in _my_pairs"]
    assert triangle_masks(twin, "operators/blockpairs.py") == []
    assert triangle_masks(twin, "operators/similarity.py") == [
        "operators/similarity.py:7 in _my_pairs"
    ]
    assert triangle_masks(
        twin.replace("_my_pairs", "_bucket_pair_scores"), "operators/similarity.py"
    ) == []
