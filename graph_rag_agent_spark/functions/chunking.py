"""Token-window chunking — faithful re-implementation of the reference's
semantics (reference text_chunker.py:43-266), as a pure function so the
Spark `mapInPandas` chunker and the Python oracle share one code path.

Semantics reproduced exactly:
- short text (< chunk_size/10 chars) emits a single chunk (:196-198)
- texts > max_text_length are pre-split on blank lines / lines, repacked
  to <= target segment size, oversize paragraphs split on sentence
  punctuation 。！？.!? then fixed-length (:43-163)
- window = chunk_size tokens, end snaps forward to the next sentence end
  (。！？) if within +100 tokens (:237-241)
- next start = max(start, end - overlap), snapped back to the previous
  sentence boundary when that lands strictly inside (start, end) (:252-260)
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from typing import Iterator, List

from graph_rag_agent_spark.config import (
    CHUNK_SIZE,
    MAX_TEXT_LENGTH,
    OVERLAP,
    SENTENCE_END_TOKENS,
    SENTENCE_SNAP_SLACK,
)
from graph_rag_agent_spark.functions.tokenizer import tokenize

_SENT_SPLIT_RE = re.compile(r"([。！？.!?])")


def _split_long_paragraph(text: str, max_size: int) -> List[str]:
    if len(text) <= max_size:
        return [text]
    parts = _SENT_SPLIT_RE.split(text)
    sentences: List[str] = []
    for i in range(0, len(parts) - 1, 2):
        body = parts[i]
        punct = parts[i + 1] if i + 1 < len(parts) else ""
        if body.strip():
            sentences.append(body + punct)
    if not sentences:
        return [text[i : i + max_size] for i in range(0, len(text), max_size)]
    segments: List[str] = []
    cur = ""
    for sentence in sentences:
        if len(sentence) > max_size:
            if cur:
                segments.append(cur)
                cur = ""
            segments.extend(
                sentence[i : i + max_size] for i in range(0, len(sentence), max_size)
            )
        elif len(cur) + len(sentence) > max_size:
            if cur:
                segments.append(cur)
            cur = sentence
        else:
            cur += sentence
    if cur:
        segments.append(cur)
    return segments


def _preprocess_large_text(text: str, max_text_length: int) -> List[str]:
    if len(text) <= max_text_length:
        return [text]
    target = min(max_text_length, max(10_000, max_text_length // 2))
    paragraphs = text.split("\n\n")
    if len(paragraphs) < 5:
        paragraphs = text.split("\n")
    segments: List[str] = []
    cur = ""
    for para in paragraphs:
        para = para.strip()
        if not para:
            continue
        if len(para) > target:
            if cur:
                segments.append(cur)
                cur = ""
            segments.extend(_split_long_paragraph(para, target))
        elif len(cur) + len(para) + 2 > target:
            if cur:
                segments.append(cur)
            cur = para
        else:
            cur = cur + "\n\n" + para if cur else para
    if cur:
        segments.append(cur)
    return segments


def _find_next_sentence_end(tokens: List[str], pos: int) -> int:
    for i in range(pos, len(tokens)):
        if tokens[i] in SENTENCE_END_TOKENS:
            return i + 1
    return len(tokens)


def _find_previous_sentence_end(tokens: List[str], pos: int) -> int:
    for i in range(pos - 1, -1, -1):
        if tokens[i] in SENTENCE_END_TOKENS:
            return i + 1
    return 0


def _chunk_token_windows(
    all_tokens: List[str], chunk_size: int, overlap: int
) -> List[List[str]]:
    chunks: List[List[str]] = []
    n = len(all_tokens)
    start = 0
    while start < n:
        end = min(start + chunk_size, n)
        if end < n:
            sentence_end = _find_next_sentence_end(all_tokens, end)
            if sentence_end <= start + chunk_size + SENTENCE_SNAP_SLACK:
                end = sentence_end
        chunk = all_tokens[start:end]
        if chunk:
            chunks.append(chunk)
        if end >= n:
            break
        overlap_start = max(start, end - overlap)
        prev_sentence = _find_previous_sentence_end(all_tokens, overlap_start)
        if start < prev_sentence < end:
            start = prev_sentence
        else:
            start = overlap_start
        if start >= end:
            start = end
    return chunks


def chunk_text(
    text: str,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = OVERLAP,
    max_text_length: int = MAX_TEXT_LENGTH,
) -> List[List[str]]:
    """Text → list of token-list chunks (reference text_chunker.py:185-209)."""
    if chunk_size <= overlap:
        raise ValueError("chunk_size must be greater than overlap")
    if not text or len(text) < chunk_size / 10:
        tokens = tokenize(text, max_text_length)
        return [tokens] if tokens else []
    chunks: List[List[str]] = []
    for segment in _preprocess_large_text(text, max_text_length):
        seg_tokens = tokenize(segment, max_text_length)
        if seg_tokens:
            chunks.extend(_chunk_token_windows(seg_tokens, chunk_size, overlap))
    return chunks


@dataclass(frozen=True)
class ChunkRecord:
    """One chunk with the reference's metadata (struct_builder.py:80-117)."""

    chunk_id: str
    text: str
    position: int          # 1-based within the document
    length: int            # chars
    content_offset: int    # running sum of previous chunk lengths
    tokens: int
    prev_chunk_id: str     # own id at position 1 (struct_builder.py:84)


def chunk_records(
    text: str,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = OVERLAP,
    max_text_length: int = MAX_TEXT_LENGTH,
) -> List[ChunkRecord]:
    """Chunk + attach ids/positions/offsets exactly as the reference's
    create_relation_between_chunks does (struct_builder.py:60-142):
    chunk_id = sha1(chunk text), offset accumulates previous chunk lengths."""
    token_chunks = chunk_text(text, chunk_size, overlap, max_text_length)
    records: List[ChunkRecord] = []
    offset = 0
    prev_id = ""
    for i, toks in enumerate(token_chunks):
        page = "".join(toks)
        cid = hashlib.sha1(page.encode("utf-8")).hexdigest()
        if i > 0:
            offset += len("".join(token_chunks[i - 1]))
        records.append(
            ChunkRecord(
                chunk_id=cid,
                text=page,
                position=i + 1,
                length=len(page),
                content_offset=offset,
                tokens=len(toks),
                prev_chunk_id=cid if i == 0 else prev_id,
            )
        )
        prev_id = cid
    return records


def first_chunk_rows(batches: Iterator) -> Iterator:
    """Streaming dedup of a partition's pandas batches by ``chunk_id``:
    yields each batch without the rows whose chunk_id came earlier in the
    stream. Exact when equal chunk_ids are hash-partitioned together, so a
    stage needs one shuffle, not a dropDuplicates shuffle plus its own."""
    seen: set = set()
    for pdf in batches:
        keep = [
            j
            for j, cid in enumerate(pdf["chunk_id"])
            if cid not in seen and not seen.add(cid)
        ]
        yield pdf if len(keep) == len(pdf) else pdf.iloc[keep]
