"""Call sites by (module, enclosing function): the AST scan behind the
review gates that pin where code forces a broadcast
(test_broadcast_allowlist) or crosses into a Python worker
(test_python_kernel_allowlist); and the names code reads, behind the
dead-operator gate (test_operator_params)."""

from __future__ import annotations

import ast
from pathlib import Path


def callee_name(node) -> str | None:
    """The attribute or bare name ``node`` calls (``F.broadcast`` and
    ``broadcast`` both give ``broadcast``); ``None`` for other callees."""
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def call_sites(files, root: Path):
    """Yield ``(site, name, node)`` for every call and every bare
    decorator in ``files``. ``site`` is (module relative to ``root``,
    innermost enclosing function or ``<module>``), ``name`` is
    ``callee_name`` of the callee and ``node`` the ``Call`` or the
    decorator. A decorator's site is the function it decorates; a bare
    one (``@udtf``, no parentheses) is a Name/Attribute, not a Call, and
    a parenthesized one is yielded once, as its Call."""
    for f in files:
        rel = str(f.relative_to(root))
        found: list[tuple] = []
        stack: list[str] = []

        class V(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                found.extend(
                    ((rel, node.name), callee_name(dec), dec)
                    for dec in node.decorator_list
                    if not isinstance(dec, ast.Call)
                )
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                found.append(((rel, stack[-1] if stack else "<module>"), callee_name(node.func), node))
                self.generic_visit(node)

        V().visit(ast.parse(f.read_text()))
        yield from found


def used_names(files) -> set[str]:
    """Every name ``files`` read as a bare name or an attribute: a call's
    callee, a function passed as a value (a callback, ``partial(fn)``),
    ``module.fn``. An import alone is not a use."""
    out: set[str] = set()
    for f in files:
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out
