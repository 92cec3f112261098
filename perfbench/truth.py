"""Expected extraction output, from the generator's scene description.

A media span is expected to become a text span holding its seal texts in
reading order, unless its media row is missing (dangling ref) or its
bytes are corrupt; then it passes through unchanged and counts as a
failure.  Spans compare on ``(kind, text, media_ref, offset)`` in output
array order, which is the engine's span-equality contract.

Every document the benchmark commits matches this ground truth under the
single-process oracle, so any document that differs fails the check.
The oracle only labels the failure: the engine disagreeing with the
oracle (an engine fault) or agreeing with it (the kernel's output
changed, e.g. a codec that decodes wrongly).
"""

from __future__ import annotations

from dataclasses import dataclass, field


def span_key(span: dict) -> tuple:
    return (span["kind"], span["text"], span["media_ref"], span["offset"])


def expected_spans(doc: dict, seed: int) -> list[tuple]:
    """The spans ``run_extract`` should commit for one generated document."""
    from red_seal_ocr_spark.sources.datagen import media_is_dangling, media_seal_texts

    out = []
    for s in sorted(doc["spans"], key=lambda s: s["offset"]):
        if s["kind"] != "media":
            out.append(span_key(s))
            continue
        ref = s["media_ref"]
        texts = None if media_is_dangling(ref, seed) else media_seal_texts(ref, seed)
        if texts is None:
            out.append(("media", None, ref, s["offset"]))
        else:
            out.append(("text", "".join(texts), ref, s["offset"]))
    return out


def failures(spans: list[tuple]) -> int:
    """Media spans left unextracted in an output span list."""
    return sum(1 for k, *_ in spans if k == "media")


@dataclass
class Verdict:
    """Outcome of checking one committed table."""

    docs: int = 0
    media_spans: int = 0
    failures: int = 0
    errors: list = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


def check_output(docs: list[dict], seed: int, committed: dict[str, list[tuple]],
                 lineage: dict, data_files: list[str],
                 lineage_partitions: list[str], media_of) -> Verdict:
    """Check one committed table against its input documents.

    ``committed`` maps doc_id to its output span tuples, ``lineage`` holds
    the summed lineage totals, ``data_files`` is the manifest's data file
    list and ``lineage_partitions`` the partition files lineage rows name.
    ``media_of()`` returns the media bytes by ref; it is only called to
    label a document that is off the ground truth.
    """
    from red_seal_ocr_spark.oracle import reference_extract

    v = Verdict()
    media = None
    if set(committed) != {d["doc_id"] for d in docs}:
        missing = {d["doc_id"] for d in docs} - set(committed)
        extra = set(committed) - {d["doc_id"] for d in docs}
        v.errors.append(f"committed doc ids differ: {len(missing)} missing, "
                        f"{len(extra)} unexpected")
    for d in docs:
        got = committed.get(d["doc_id"])
        if got is None:
            continue
        want = expected_spans(d, seed)
        if got != want:
            if media is None:
                media = media_of()
            oracle = [span_key(s) for s in reference_extract(d, media)]
            who = "equals" if got == oracle else "differs from"
            v.errors.append(f"{d['doc_id']}: output is off the ground truth "
                            f"and {who} the single-process oracle")
            continue
        v.docs += 1
        v.media_spans += sum(1 for s in d["spans"] if s["kind"] == "media")
        v.failures += failures(want)
    expect = {"docs": v.docs, "media_spans": v.media_spans, "failures": v.failures}
    if not v.errors and lineage != expect:
        v.errors.append(f"lineage totals {lineage} != expected {expect}")
    unlisted = set(data_files) - set(lineage_partitions)
    if unlisted:
        v.errors.append(f"{len(unlisted)} committed data files have no lineage row")
    return v
