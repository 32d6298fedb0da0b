"""Net line delta of the library and its tests against a base commit.

    python3 tools/line_delta.py BASE

Compares every `.py` file under pdf_brain_spark/ and tests/ in the working
tree with the same tree at git commit BASE, and prints, per directory and
in total, the change in code lines, comment plus docstring lines, and
blank lines. A line is blank when it holds only whitespace; a comment
line when it holds only a `#` comment; a docstring line when it lies in
the string that opens a module, class or function body. Every other line
is code.
"""

from __future__ import annotations

import ast
import io
import pathlib
import subprocess
import sys
import tokenize

ROOT = pathlib.Path(__file__).resolve().parents[1]
DIRS = ("pdf_brain_spark", "tests")
KINDS = ("code", "comment", "blank")


def classify(source: str) -> dict[str, int]:
    """{kind: line count} of one Python source."""
    lines = source.splitlines()
    doc = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    code = set()
    comment = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            comment.add(tok.start[0])
        elif tok.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
                              tokenize.DEDENT, tokenize.ENDMARKER):
            code.update(range(tok.start[0], tok.end[0] + 1))
    counts = dict.fromkeys(KINDS, 0)
    for i, text in enumerate(lines, start=1):
        if not text.strip():
            counts["blank"] += 1
        elif i in doc or (i in comment and i not in code):
            counts["comment"] += 1
        else:
            counts["code"] += 1
    return counts


def tree_counts(files: dict[str, str]) -> dict[str, dict[str, int]]:
    """{top directory: {kind: lines}} over `files` ({path: source})."""
    out = {d: dict.fromkeys(KINDS, 0) for d in DIRS}
    for path, source in files.items():
        for kind, n in classify(source).items():
            out[path.split("/", 1)[0]][kind] += n
    return out


def base_files(base: str) -> dict[str, str]:
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", base, "--", *DIRS],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.split()
    return {
        n: subprocess.run(["git", "show", f"{base}:{n}"], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout
        for n in names
        if n.endswith(".py")
    }


def work_files() -> dict[str, str]:
    return {
        str(p.relative_to(ROOT)): p.read_text()
        for d in DIRS
        for p in sorted((ROOT / d).rglob("*.py"))
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    before, after = tree_counts(base_files(argv[1])), tree_counts(work_files())
    print(f"{'':18}{'code':>8}{'comment':>9}{'blank':>8}{'total':>8}")
    total = dict.fromkeys(KINDS, 0)
    for d in DIRS:
        delta = {k: after[d][k] - before[d][k] for k in KINDS}
        for k in KINDS:
            total[k] += delta[k]
        print(f"{d + '/':18}" + "".join(f"{delta[k]:+{w}d}" for k, w in zip(KINDS, (8, 9, 8)))
              + f"{sum(delta.values()):+8d}")
    print(f"{'total':18}" + "".join(f"{total[k]:+{w}d}" for k, w in zip(KINDS, (8, 9, 8)))
          + f"{sum(total.values()):+8d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
