"""HTML text extraction + boilerplate filtering — the web-corpus
ingestion operator (stdlib ``html.parser``, Arrow-batched).

Reference scope note: the reference treats stored objects as opaque
bytes (``shipyard_blueprints`` upload/download move payloads without
inspecting them — `upload_file.py:183-184`); HTML understanding is a
north-star LLM-pipeline extension, the one ubiquitous operator a web
corpus (Common Crawl-style) needs before any text scoring: strip tags,
drop script/style, and remove boilerplate blocks (navigation, footers,
share widgets) by text-density rules — the C4/trafilatura-style
heuristic family (public).

Design (100 TB posture): the parse is per-document, embarrassingly
parallel — one Arrow-batched ``mapInPandas`` pass, no shuffle, no
driver traffic. Block segmentation happens in one streaming pass of
``html.parser`` (no DOM build), so memory is O(block), not O(page).
The keep rule is evaluated per block from exact integer counts:
``n_tokens >= MIN_TOKENS`` (short blocks are chrome) and
``2 * link_chars <= n_chars`` (link-dominated blocks are navigation) —
both thresholds are module constants so the oracle side can reproduce
verdicts arithmetically on a deterministic fixture.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterable, Iterator

#: tags whose text content is NEVER corpus text
SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "title", "svg"})

#: tags that delimit text blocks for density scoring
BLOCK_TAGS = frozenset(
    {
        "p",
        "div",
        "nav",
        "footer",
        "header",
        "aside",
        "article",
        "section",
        "li",
        "td",
        "th",
        "blockquote",
        "pre",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
    }
)

#: boilerplate thresholds (shared with the oracle fixture math)
MIN_TOKENS = 5


class _BlockCollector(HTMLParser):
    """One streaming pass: segment body text into blocks at block-tag
    boundaries, tracking per-block link-anchored character counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str, int]] = []  # (tag, text, link_chars)
        self._buf: list[str] = []
        self._link_chars = 0
        self._skip_depth = 0
        self._link_depth = 0
        self._open_blocks: list[str] = ["body"]

    def _flush(self, tag: str) -> None:
        text = "".join(self._buf)
        if text.strip():
            self.blocks.append((tag, text, self._link_chars))
        self._buf = []
        self._link_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            self._link_depth += 1
        elif tag in BLOCK_TAGS:
            self._flush(self._open_blocks[-1])
            self._open_blocks.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        elif tag in BLOCK_TAGS:
            self._flush(tag)
            if len(self._open_blocks) > 1 and self._open_blocks[-1] == tag:
                self._open_blocks.pop()

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self._buf.append(data)
        if self._link_depth:
            self._link_chars += len(data)

    def close(self) -> None:  # flush trailing text outside any block tag
        super().close()
        self._flush(self._open_blocks[-1])


def _ntokens(text: str) -> int:
    """Single-space token count — twin of the SQL
    ``len(list_filter(string_split(text, ' '), t -> t <> ''))``."""
    return sum(1 for t in text.split(" ") if t)


def extract_blocks(html: str) -> list[dict]:
    """Parse one HTML document into scored text blocks."""
    p = _BlockCollector()
    p.feed(html)
    p.close()
    out = []
    for tag, text, link_chars in p.blocks:
        n_tokens = _ntokens(text)
        kept = n_tokens >= MIN_TOKENS and 2 * link_chars <= len(text)
        out.append(
            {
                "tag": tag,
                "text": text,
                "n_tokens": n_tokens,
                "n_chars": len(text),
                "link_chars": link_chars,
                "kept": kept,
            }
        )
    return out


_CHECKSUM_M = 2147483647


def _fold(text: str) -> int:
    """Portable polynomial checksum — twin of the DuckDB
    ``list_reduce(... (h, c) -> (h*31 + c) % 2^31-1)`` fold used by
    the fingerprint family."""
    h = 0
    for c in text:
        h = (h * 31 + ord(c)) % _CHECKSUM_M
    return h


def extract_html_text(df, html_col: str = "html", id_col: str = "doc_id"):
    """DataFrame operator: per document, run the streaming block parse,
    apply the boilerplate keep rule, and emit exact integer metrics plus
    the portable checksum of the kept text (kept blocks joined with
    a newline). One Arrow-batched ``mapInPandas`` pass — no shuffle."""

    def run(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                blocks = extract_blocks(html)
                kept = [b for b in blocks if b["kept"]]
                text = "\n".join(b["text"] for b in kept)
                rows.append(
                    (
                        int(did),
                        len(blocks),
                        len(kept),
                        sum(b["n_tokens"] for b in kept),
                        sum(b["n_chars"] for b in kept),
                        _fold(text),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "n_blocks",
                    "n_kept",
                    "kept_tokens",
                    "kept_chars",
                    "checksum",
                ],
            )

    schema = (
        f"{id_col} long, n_blocks long, n_kept long, "
        "kept_tokens long, kept_chars long, checksum long"
    )
    return df.mapInPandas(run, schema)
