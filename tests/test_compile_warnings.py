"""Every source file compiles with warnings raised as errors."""

from __future__ import annotations

import pathlib
import warnings

_ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_sources_compile_without_warnings():
    """An invalid escape such as ``"\\s"`` in a non-raw string is a
    DeprecationWarning on Python 3.11 and a SyntaxWarning from 3.12;
    no source file under the package, the jobs, the tools or the
    benchmark may emit one (or any other compile-time warning)."""
    sources = sorted(
        p
        for d in ("xmlschemavalidator_spark", "jobs", "tools", "perfbench")
        for p in (_ROOT / d).rglob("*.py")
    )
    assert len(sources) > 50
    failures = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as e:
                failures.append(f"{path.relative_to(_ROOT)}: {e}")
    assert not failures, "\n".join(failures)
