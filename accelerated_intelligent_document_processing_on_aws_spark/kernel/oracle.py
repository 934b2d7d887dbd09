"""Per-turn extraction oracle: the single composition of the kernel.

The Spark job (via Arrow-batched ``mapInArrow``) calls
:func:`extract_turn_raw` and the golden generator its dict-shaped
wrapper :func:`extract_turn`, so per-turn byte-equality between
the distributed run and the single-threaded run tests exactly what the
north rule demands: that partitioning, shuffling, salting, and order
restoration never perturb the output.

Payload sniffing mirrors the reference's file-type detection (extension
+ magic bytes, ``lib/idp_common_pkg/idp_common/ocr/service.py:1677-1723``):
leading ``<`` → HTML, JSON list of bbox records → layout, else plain.
"""

from __future__ import annotations

from .classify import classify_turn
from .confidence import score_confidence
from .html_extract import strip_boilerplate
from .layout import extract_spans_recs, parse_layout, plain_spans

Span = tuple[int, int, str, float]

KIND_HTML = "html"
KIND_LAYOUT = "layout"
KIND_PLAIN = "plain"


def sniff_payload_kind(text: str) -> str:
    s = text.lstrip() if text else ""
    if s.startswith("<"):
        return KIND_HTML
    if s.startswith("[") and parse_layout(s) is not None:
        return KIND_LAYOUT
    return KIND_PLAIN


def extract_turn_raw(
    text: str, role: str, tool: str | None
) -> tuple[str, list[Span], str, str, float, str]:
    """Extract one turn, spans as raw ``(start, end, kind, conf)``
    tuples.  Hot-path form: the Arrow batch builder consumes the tuples
    directly into flat struct arrays, so no per-span dict is ever
    built.  :func:`extract_turn` is the dict-shaped wrapper."""
    text = text or ""
    # inline sniff so the layout branch parses the payload ONCE —
    # sniff_payload_kind + extract_spans would each json.loads it
    # (the parse was ~25% of the layout leg; this halves that)
    s = text.lstrip()
    if s.startswith("<"):
        kind = KIND_HTML
        extracted, spans = strip_boilerplate(text)
    else:
        recs = parse_layout(s) if s.startswith("[") else None
        if recs is not None:
            kind = KIND_LAYOUT
            extracted, spans = extract_spans_recs(recs)
        else:
            kind = KIND_PLAIN
            extracted, spans = plain_spans(text)
    cls, boundary = classify_turn(extracted, role, tool)
    conf = score_confidence(extracted, spans)
    return extracted, spans, cls, boundary, conf, kind


def extract_turn(text: str, role: str, tool: str | None) -> dict:
    """Extract one turn.  Returns a plain dict with keys
    ``extracted_text, spans, classification, boundary, confidence, payload_kind``.
    """
    extracted, spans, cls, boundary, conf, kind = extract_turn_raw(text, role, tool)
    return {
        "extracted_text": extracted,
        "spans": [
            {"start": s, "end": e, "kind": k, "conf": c} for (s, e, k, c) in spans
        ],
        "classification": cls,
        "boundary": boundary,
        "confidence": conf,
        "payload_kind": kind,
    }


def sections_oracle(turns: list[dict]) -> list[dict]:
    """Gaps-and-islands segmentation oracle (pure Python).

    Reference semantics (``classification/service.py:2138-2214``): new
    section when the class changes OR boundary == 'start'; sections
    numbered 1..k in turn order.  ``turns`` must carry
    ``turn_idx, classification, boundary`` for ONE conversation.
    """
    out: list[dict] = []
    cur_id = 0
    cur_cls: str | None = None
    for t in sorted(turns, key=lambda x: x["turn_idx"]):
        if cur_cls is None or t["classification"] != cur_cls or t["boundary"] == "start":
            cur_id += 1
            cur_cls = t["classification"]
            out.append(
                {"section_id": cur_id, "classification": cur_cls, "turn_idxs": []}
            )
        out[-1]["turn_idxs"].append(t["turn_idx"])
    return out
