"""Pipeline configuration: every build knob, declared once.

Mirrors the *semantics* of the reference's ``config/settings.py`` knobs
(reference: /root/reference/graphrag_agent/config/settings.py:98-136,241-249)
re-keyed for a source-code corpus. Like the reference's, they are module
constants: each operator defaults its keyword argument to one, and the
build stages call the operators with those defaults. All values are
deterministic so the Spark pipeline and the pure-Python oracle agree
bit-for-bit.
"""

from __future__ import annotations

# ---- chunking (reference settings.py:98-100) --------------------------------
CHUNK_SIZE = 500          # tokens per chunk window
OVERLAP = 100             # token overlap between adjacent chunks
MAX_TEXT_LENGTH = 500_000  # above this, large-text pre-split kicks in
SENTENCE_SNAP_SLACK = 100  # end may snap forward to a sentence end within +100 tokens

# sentence-end tokens for the snap logic (reference text_chunker.py:268-270)
SENTENCE_END_TOKENS = ("。", "！", "？")

# ---- extraction wire format (reference entity_extractor.py:44-46) -----------
TUPLE_DELIMITER = " : "
RECORD_DELIMITER = "\n"
BATCH_SEPARATOR = "\n" + "-" * 50 + "\n"   # entity_extractor.py:264
EXTRACTION_BATCH_CAP = 100                 # settings.py BATCH_SIZE analogue
EXTRACTION_BATCH_CHAR_BUDGET = 10_000      # dynamic batch = budget / avg_chunk_chars
# GraphRAG-style gleaning: continuation passes re-prompting the extractor for
# entities missed on the first pass (microsoft/graphrag defaults to 1). Runs
# only for extractors exposing a ``glean(text, prior)`` method — the
# deterministic extractors are single-pass-complete, so this is inert for them.
MAX_GLEANINGS = 1

# placeholder type for relationship endpoints never declared as entities
# (reference graph_writer.py:81,94 uses "未知")
UNKNOWN_ENTITY_TYPE = "未知"
UNKNOWN_ENTITY_DESCRIPTION = "No additional data"

# ---- embeddings (reference entity_indexer.py:170,189-205) --------------------
EMBEDDING_DIM = 64        # deterministic hash-projection embedder dimension

# ---- canonicalization (reference settings.py:101,147-155,241-249) -----------
SIMILARITY_CUTOFF = 0.9   # cosine threshold for SIMILAR edges (KNN cutoff)
SIMILARITY_TOPK = 10      # per-entity cap on SIMILAR edges
WORD_EDIT_DISTANCE = 3    # levenshtein(lower(a), lower(b)) < 3 → duplicate candidates
CONFLICT_JACCARD = 0.5    # rel-type-set Jaccard below this = conflict
BLOCK_SALT_THRESHOLD = 2000   # blocks larger than this get salted sub-blocks

# ---- communities -------------------------------------------------------------
COMMUNITY_MAX_LEVELS = 2      # reference leiden.py fallback maxLevels=2
COMMUNITY_MAX_ITER = 10       # local-move / label-propagation sweeps per level
COMMUNITY_TOP_SUMMARIES = 200  # reference summary/leiden.py:10-151 LIMIT 200
COMMUNITY_GAMMA = 1.0          # Leiden resolution (reference gds.leiden gamma)
# ≤ this many projected edges → exact driver-side Leiden kernel (the
# reference's gds.leiden is likewise in-JVM single-machine); above it, the
# distributed LPA-seeded modularity local-move + contraction loop runs
COMMUNITY_DRIVER_THRESHOLD = 2_000_000
SLLPA_DRIVER_THRESHOLD = 50_000  # ≤ this many edges and vertices → driver SLLPA sweeps
# the build's entity_pagerank: tol-mode fixpoint, which an incremental run
# warm-starts from the previous run's rank table
PAGERANK_TOL = 1e-6
PAGERANK_MAX_ITER = 100

# ---- connected components -----------------------------------------------------
CC_MAX_ITERATIONS = 50    # safety bound; similarity clusters have tiny diameter
# ≤ this many entities → whole canonical-map computation on the driver
# (shared numpy/union-find kernels; the GDS-in-memory analogue). Above it,
# the distributed blocked-join + DataFrame-CC path runs.
CANON_DRIVER_THRESHOLD = 200_000

# ---- driver graph kernels -----------------------------------------------------
# ≤ this many edges (and vertices) → CC, PageRank, hop BFS and k-core run as
# one driver kernel over the collect_if_fits table; above it, distributed loops
DRIVER_MAX_EDGES = 1_000_000
