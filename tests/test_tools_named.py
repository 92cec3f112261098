"""Every script under ``tools/`` is named by a file that runs or tests
the engine, so a tool no test, job, module or bench reads does not stay
behind (a one-off's conclusion goes to CHANGES.md / PLANS.md instead)."""

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_every_tool_is_named_by_code():
    sources = [ROOT / "bench.py", ROOT / "bench_extra.py"]
    for d in ("tests", "jobs", "red_seal_ocr_spark"):
        sources += sorted((ROOT / d).rglob("*.py"))
    text = "\n".join(p.read_text() for p in sources if p.exists())
    unnamed = [t.name for t in sorted((ROOT / "tools").glob("*.py"))
               if f"tools/{t.name}" not in text]
    assert unnamed == []
