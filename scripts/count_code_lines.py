"""Count the code lines of a Python package.

A line counts when it holds at least one token that is not a comment, a
newline or indentation, and it lies outside every docstring (module,
class and function docstrings, found with `ast`).

    python scripts/count_code_lines.py aqi_featurestore_spark

prints the total over every ``.py`` file under the directory.
"""

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree):
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_file(path):
    with open(path, "rb") as f:
        source = f.read()
    docs = _docstring_lines(ast.parse(source))
    code = set()
    for tok in tokenize.tokenize(io.BytesIO(source).readline):
        if tok.type in _SKIP:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def count_tree(root):
    total = 0
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            if name.endswith(".py"):
                total += count_file(os.path.join(dirpath, name))
    return total


if __name__ == "__main__":
    print(count_tree(sys.argv[1]))
