"""Mid-document recovery of the split tokenizer.

``_scan_blocks`` walks one ``re.split`` token stream.  Raw text holding
'<' makes it find the close tag by offset and resume at the token that
ends there (a comment straddling the close tag makes it split the tail
again), and a tag whose quotes only the reference grammar resolves
sends the whole document to ``_scan_blocks_ref``.  Each case here must equal the
reference; the fixture-splice strategy puts the same fragments after
realistic markup, where a wrong offset would shift every later block."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from accelerated_intelligent_document_processing_on_aws_spark.fixtures.transcripts import (
    generate_transcripts,
)
from accelerated_intelligent_document_processing_on_aws_spark.kernel import (
    html_extract as _hx,
    sniff_payload_kind,
)
from test_tokenizer_equiv import ADVERSARIAL, assert_equiv

_PARA = "<p>Paragraph of visible main content number {}.</p>"
_FIFTY = "".join(
    f'<div class="msg"><span>tag {i}</span></div>' for i in range(25)
)  # 50 ordinary open tags

RECOVERY = {
    "script_with_lt_after_50_tags": _FIFTY
    + "<script>for (i = 0; i < n; i++) x += '<p>';</script>"
    + _PARA.format(1),
    "two_scripts": _PARA.format(1)
    + "<script>if (a<b) f();</script>"
    + _PARA.format(2)
    + "<script>var s = '</p>';</script>"
    + _PARA.format(3),
    "upper_close_with_space": _PARA.format(1)
    + "<script>x = 1 < 2;</SCRIPT >"
    + _PARA.format(2),
    "script_unterminated_after_content": _PARA.format(1)
    + _PARA.format(2)
    + "<script>var never = 'closed'; <p>swallowed</p>",
    "style_with_comment": _PARA.format(1)
    + "<style><!-- p { color: red } --></style>"
    + _PARA.format(2),
    "quoted_gt_in_open_tag": _FIFTY
    + '<div title="a > b" class="content">'
    + _PARA.format(1)
    + "</div>",
    "quote_in_end_tag": _PARA.format(1)
    + "<div>"
    + _PARA.format(2)
    + '</div class="x>y">'
    + _PARA.format(3),
    "comment_with_tags": _PARA.format(1)
    + "<!-- <div><p>commented out</p></div> -->"
    + _PARA.format(2),
    "twenty_scripts_with_lt": "".join(
        _PARA.format(i) + f"<script>if (a<b{i}) {{ s = '<p>'; }}</script>"
        for i in range(20)
    )
    + _PARA.format(20),
    "tag_token_swallows_script_close": _PARA.format(1)
    + "<script>if (a<b){}</script>"
    + _PARA.format(2),
    "comment_straddles_script_close": _PARA.format(1)
    + "<script>x = a < b; <!-- </script> --> y</script>"
    + _PARA.format(2),
}


@pytest.mark.parametrize("name", sorted(RECOVERY))
def test_recovery_case_equals_reference(name):
    assert_equiv(RECOVERY[name])


@pytest.mark.parametrize(
    "name",
    [
        "script_with_lt_after_50_tags",
        "two_scripts",
        "upper_close_with_space",
        "twenty_scripts_with_lt",
        "comment_straddles_script_close",
    ],
)
def test_raw_text_with_lt_takes_no_whole_document_fallback(name, monkeypatch):
    def refuse(html):
        raise AssertionError("whole-document fallback")

    monkeypatch.setattr(_hx, "_scan_blocks_ref", refuse)
    assert _hx._scan_blocks(RECOVERY[name])


def _fixture_html(n_convs: int, seed: int) -> list[str]:
    rows = generate_transcripts(n_convs=n_convs, seed=seed)
    return [r["text"] for r in rows if r["text"] and sniff_payload_kind(r["text"]) == "html"]


_HTML = _fixture_html(40, 7)


@st.composite
def _spliced(draw):
    doc = draw(st.sampled_from(_HTML))
    for frag in draw(st.lists(st.sampled_from(sorted(RECOVERY.values())), min_size=1, max_size=3)):
        k = draw(st.integers(0, len(doc)))
        k = doc.rfind(">", 0, k) + 1  # splice between tokens
        doc = doc[:k] + frag + doc[k:]
    return doc


@settings(max_examples=150, deadline=None)
@given(_spliced())
def test_fragments_spliced_into_fixture_html(doc):
    assert_equiv(doc)


def test_dotted_capital_i_keeps_raw_text_close_offset():
    """``str.lower()`` turns U+0130 into two code points, so a lowered
    copy of the document shifts every offset after it; the close-tag
    search must fold ASCII only."""
    tail = (
        "<script>var a=1;</script>"
        "<p>First paragraph of visible main content.</p>"
        "<p>Second paragraph of visible main content.</p>"
    )
    for lead in ("İ" * 20, "I" * 20):
        doc = lead + tail
        assert_equiv(doc)
        text, _ = _hx.strip_boilerplate(doc)
        assert "First paragraph" in text, lead[:1]


def test_strip_boilerplate_never_falls_back(monkeypatch):
    """A scanner error would hide behind ``strip_boilerplate``'s
    tag-stripping fallback span; none of these inputs may raise."""
    real = _hx._scan_blocks
    raised = []

    def spy(html):
        try:
            return real(html)
        except Exception as e:
            raised.append((html[:80], e))
            raise

    monkeypatch.setattr(_hx, "_scan_blocks", spy)
    rows = generate_transcripts(n_convs=300, seed=31)
    for payload in [*ADVERSARIAL, *RECOVERY.values(), *(r["text"] for r in rows)]:
        _, spans = _hx.strip_boilerplate(payload or "")
        assert all(s[2] != "fallback" for s in spans), payload[:80]
    assert raised == []
