"""Spark-free source scans for the one-home guard tests."""

import io
import tokenize
from pathlib import Path


def masked_code(path) -> str:
    """The source at ``path`` with comments and multi-line strings
    (docstrings, SQL oracles) blanked out, line structure kept, so a
    regex over it sees only code."""
    src = Path(path).read_text(encoding="utf-8")
    lines = [list(ln) for ln in src.splitlines(keepends=True)]
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        masked = tok.type == tokenize.COMMENT or (
            tok.type == tokenize.STRING and tok.start[0] != tok.end[0]
        )
        if not masked:
            continue
        (r0, c0), (r1, c1) = tok.start, tok.end
        for r in range(r0 - 1, r1):
            lo = c0 if r == r0 - 1 else 0
            hi = c1 if r == r1 - 1 else len(lines[r])
            for c in range(lo, hi):
                if lines[r][c] != "\n":
                    lines[r][c] = " "
    return "".join("".join(ln) for ln in lines)
