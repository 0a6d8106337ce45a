"""Pluggable triple extractor.

In the reference this stage is an LLM call per chunk batch
(reference entity_extractor.py:145-332). For determinism — and because the
P/R gate compares our Spark pipeline against a pure-Python oracle running
the *same* extractor — the default is a rule-based code extractor that
emits the reference's exact wire format. In production the callable is an
LLM client; the interface (text in → wire-format text out) is identical.

The batch protocol mirrors the reference bit-for-bit:
chunks are joined with ``\\n{'-'*50}\\n`` (entity_extractor.py:264), the
response is split on the same separator, and a count mismatch triggers a
per-chunk repair pass (entity_extractor.py:282-293).
"""

from __future__ import annotations

import re
from typing import Callable, List

from graph_rag_agent_spark.config import (
    BATCH_SEPARATOR,
    EXTRACTION_BATCH_CAP,
    EXTRACTION_BATCH_CHAR_BUDGET,
    RECORD_DELIMITER,
)
from graph_rag_agent_spark.functions.wire_format import (
    emit_entity,
    emit_relationship,
    join_records,
)

Extractor = Callable[[str], str]

_IMPORT_RE = re.compile(r"^import ([A-Za-z_][\w.]*)", re.MULTILINE)
_FROM_IMPORT_RE = re.compile(r"^from ([A-Za-z_][\w.]*) import ([A-Za-z_]\w*)", re.MULTILINE)
_CLASS_RE = re.compile(r"^class ([A-Za-z_]\w*)(?:\(([A-Za-z_]\w*)\))?:", re.MULTILINE)
_DEF_RE = re.compile(r"^(?:    )?def ([A-Za-z_]\w*)\(", re.MULTILINE)
_CONST_RE = re.compile(r"^([A-Z][A-Z0-9_]{2,}) *=", re.MULTILINE)
_CALL_RE = re.compile(r"(?:return|=)\s+([A-Za-z_]\w*)\(")
_MODULE_RE = re.compile(r'"""Module ([A-Za-z_][\w.]*)')


class DeterministicCodeExtractor:
    """Rule-based entity/relation extractor over source-code chunks.

    Deterministic, order-stable (document order of the regex hits,
    first occurrence wins per entity name), emits the wire format.
    """

    def __call__(self, text: str) -> str:
        records: List[str] = []
        seen: set = set()

        def add_entity(name: str, etype: str, desc: str) -> None:
            if name and name not in seen:
                seen.add(name)
                records.append(emit_entity(name, etype, desc))

        module_name = None
        m = _MODULE_RE.search(text)
        if m:
            module_name = m.group(1)
            add_entity(module_name, "module", f"module {module_name}")

        for imp in _IMPORT_RE.findall(text):
            add_entity(imp, "module", f"imported module {imp}")
            if module_name:
                records.append(
                    emit_relationship(module_name, imp, "imports", f"{module_name} imports {imp}", 1.0)
                )
        for pkg, sym in _FROM_IMPORT_RE.findall(text):
            add_entity(pkg, "module", f"imported module {pkg}")
            add_entity(sym, "function", f"symbol {sym} from {pkg}")
            records.append(
                emit_relationship(pkg, sym, "contains", f"{pkg} exposes {sym}", 0.9)
            )

        classes = _CLASS_RE.findall(text)
        for cls, base in classes:
            add_entity(cls, "class", f"class {cls}")
            if base:
                # base may never be declared as an entity → exercises the
                # placeholder-node synthesis path (graph_writer.py:74-98)
                records.append(
                    emit_relationship(cls, base, "inherits", f"{cls} inherits {base}", 1.0)
                )
        first_class = classes[0][0] if classes else None

        for fn in _DEF_RE.findall(text):
            add_entity(fn, "function", f"function {fn}")
            if first_class:
                records.append(
                    emit_relationship(first_class, fn, "defines", f"{first_class} defines {fn}", 0.8)
                )

        for const in _CONST_RE.findall(text):
            add_entity(const, "constant", f"constant {const}")

        for callee in _CALL_RE.findall(text):
            if callee in seen:
                caller = module_name or first_class
                if caller and caller != callee:
                    records.append(
                        emit_relationship(caller, callee, "calls", f"{caller} calls {callee}", 0.7)
                    )
        return join_records(records)


class ComputeWeightedExtractor:
    """Deterministic extractor with PRODUCTION-REPRESENTATIVE compute cost.

    The rule-based mock costs ~0.1 µs/char — three orders of magnitude below
    a real LLM/tokenizer forward pass, which makes a local benchmark
    bandwidth-bound instead of compute-bound and under-reports scaling.
    This wrapper burns deterministic CPU (sha256 chain) proportional to the
    input length (`us_per_char`) before delegating to the wrapped extractor,
    so throughput benchmarks see the real pipeline's cost profile. Output is
    identical to the wrapped extractor."""

    def __init__(self, us_per_char: float = 2.0):
        self.base = DeterministicCodeExtractor()
        self.us_per_char = us_per_char

    def __call__(self, text: str) -> str:
        import hashlib as _hl

        h = _hl.sha256((text or "x").encode("utf-8", "ignore")).digest()
        # one sha256 chain round ≈ 0.56 µs measured → 1.8 rounds per µs
        for _ in range(int(len(text or "") * self.us_per_char * 1.8)):
            h = _hl.sha256(h).digest()
        return self.base(text)


class KeywordCooccurrenceExtractor:
    """Rule-based extractor for prose/bag-of-words corpora (the driver's
    ``documents`` table): entities = distinct words of ≥ 4 chars in
    first-occurrence order, relationships = consecutive entity co-occurrence.
    Same wire-format contract as the code extractor; deterministic."""

    def __init__(self):
        self._word_re = re.compile(r"[A-Za-z_]\w*")

    def __call__(self, text: str) -> str:
        records: List[str] = []
        seen: List[str] = []
        seen_set: set = set()
        for w in self._word_re.findall(text or ""):
            lw = w.lower()
            if len(lw) >= 4 and lw not in seen_set:
                seen_set.add(lw)
                seen.append(lw)
                records.append(emit_entity(lw, "term", f"term {lw}"))
        for a, b in zip(seen, seen[1:]):
            records.append(
                emit_relationship(a, b, "cooccurs", f"{a} co-occurs with {b}", 1.0)
            )
        return join_records(records)


def dynamic_batch_size(chunk_lengths: List[int]) -> int:
    """Reference's dynamic micro-batch sizing (entity_extractor.py:236-240)."""
    if not chunk_lengths:
        return 1
    avg = sum(chunk_lengths) / len(chunk_lengths)
    return max(1, min(EXTRACTION_BATCH_CAP, int(EXTRACTION_BATCH_CHAR_BUDGET / (avg + 1))))


def extract_batch(texts: List[str], extractor: Extractor) -> List[str]:
    """Batch-call protocol with mismatch repair (entity_extractor.py:243-309).

    Joins the batch with the separator, calls the extractor once, splits the
    response; if counts disagree, re-extracts each chunk individually. The
    repair pass degrades PER CHUNK (reference entity_extractor.py:190-206):
    one poisoned chunk yields an empty wire result — it must never fail the
    task (at 10⁹ chunks a per-task failure is a pipeline outage; the same
    semantics embeddings already apply per row).
    """
    if not texts:
        return []
    batch_text = BATCH_SEPARATOR.join(texts)
    try:
        response = _extract_joined(batch_text, extractor)
        parts = [p.strip() for p in response.split(BATCH_SEPARATOR)]
        if len(parts) == len(texts):
            return parts
    except Exception:
        pass
    # repair pass: per-chunk fallback, per-chunk error capture
    out: List[str] = []
    for t in texts:
        try:
            out.append(extractor(t))
        except Exception:
            out.append("")
    return out


def merge_wire_results(parts: List[str]) -> str:
    """Merge wire-format results from successive passes: concatenate records,
    dropping exact duplicates while preserving first-seen order (downstream
    parsing is first-wins per entity, so order stability matters)."""
    seen: set = set()
    records: List[str] = []
    for part in parts:
        for rec in (part or "").split(RECORD_DELIMITER):
            rec = rec.strip()
            if rec and rec not in seen:
                seen.add(rec)
                records.append(rec)
    return join_records(records)


def extract_with_gleanings(text: str, first: str, extractor: Extractor,
                           max_gleanings: int) -> str:
    """GraphRAG-style gleaning loop over ONE chunk (public semantics:
    microsoft/graphrag graph_extractor — after the initial extraction, the
    model is re-prompted up to ``max_gleanings`` times with its prior output
    and asked to add missed records; between passes a yes/no judgment decides
    whether to continue).

    ``first`` is the initial pass's wire result (already produced by the
    batched call). Continuation passes use the extractor's optional protocol:

    - ``glean(text, prior_wire) -> wire`` — the continuation call; required
      for gleaning (plain callables skip the loop entirely);
    - ``needs_more(text, prior_wire) -> bool`` — the loop judgment; optional
      (absent → keep gleaning until the pass budget or an empty result).

    Gleaning degrades per chunk like the repair pass: an exception in a
    continuation keeps the best-so-far result instead of failing the task.
    """
    glean = getattr(extractor, "glean", None)
    out = first
    if glean is None or max_gleanings <= 0:
        return out
    needs_more = getattr(extractor, "needs_more", None)
    for i in range(max_gleanings):
        try:
            more = glean(text, out)
        except Exception:
            break
        if not (more and more.strip()):
            break
        out = merge_wire_results([out, more])
        if needs_more is not None and i < max_gleanings - 1:
            try:
                if not needs_more(text, out):
                    break
            except Exception:
                break
    return out


def apply_gleanings(texts: List[str], firsts: List[str], extractor: Extractor,
                    max_gleanings: int) -> List[str]:
    """Vector form of the gleaning loop over one micro-batch. No-op (returns
    ``firsts`` unchanged) when the extractor has no ``glean`` method."""
    if max_gleanings <= 0 or getattr(extractor, "glean", None) is None:
        return firsts
    return [
        extract_with_gleanings(t, f, extractor, max_gleanings)
        for t, f in zip(texts, firsts)
    ]


def _extract_joined(batch_text: str, extractor: Extractor) -> str:
    """Run the extractor over a separator-joined batch. A real LLM sees the
    separator in-prompt and echoes it; the deterministic extractor processes
    each segment and re-joins, modeling the same contract."""
    segments = batch_text.split(BATCH_SEPARATOR)
    return BATCH_SEPARATOR.join(extractor(seg) for seg in segments)
