"""Package size: logic lines and comment-only lines.

Usage: python tools/loc.py [package_dir]

A logic line is a line of the package's Python source that holds code,
not counting docstrings (the string that opens a module, class or
function body) or the oracle SQL text assigned to ``*_SQL`` names.
A comment-only line holds nothing but a comment. Blank lines count as
neither. Both totals are printed, then the per-file logic lines.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _excluded_lines(tree: ast.AST) -> set[int]:
    """Line numbers spanned by docstrings and ``*_SQL`` assignments."""
    out: set[int] = set()

    def span(node: ast.AST) -> None:
        out.update(range(node.lineno, node.end_lineno + 1))

    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                span(first)
        elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id.endswith("_SQL")
                for t in node.targets):
            span(node)
    return out


def count(source: str) -> tuple[int, int]:
    """(logic lines, comment-only lines) of one module's source."""
    excluded = _excluded_lines(ast.parse(source))
    code: set[int] = set()
    comments: set[int] = set()
    skip = (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
            tokenize.ENDMARKER, tokenize.ENCODING)
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in skip:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - excluded), len(comments - code)


def main() -> None:
    pkg = (sys.argv[1] if len(sys.argv) > 1
           else os.path.join(ROOT, "immoeliza_pipeline_spark"))
    per_file = []
    for dirpath, _, files in os.walk(pkg):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    per_file.append((os.path.relpath(path, pkg), *count(f.read())))
    logic = sum(n for _, n, _ in per_file)
    comments = sum(c for _, _, c in per_file)
    print(f"logic_lines {logic}")
    print(f"comment_lines {comments}")
    for rel, n, _ in sorted(per_file, key=lambda t: -t[1]):
        print(f"  {n:5d}  {rel}")


if __name__ == "__main__":
    main()
