"""Deterministic corpus scaling for the sf1 rehearsal.

The 100 TB design claims (banded dedup joins, capped posting lists,
IVF probe discipline, degree-ordered triangles) are argued from plan
shape and plan-gate tests; this module makes them *measurable* by
manufacturing a factor-x corpus from the driver's own sf0.1 testdata
and letting ``bench_scale.py`` assert per-query wall-time growth stays
~linear in data (sub-linear in pairs).

Scaling model — replica blocks, not row duplication:

* Every fact table is replicated ``factor`` times with all key columns
  offset by ``k * (max_key + 1)`` per replica ``k``, foreign keys
  offset by the REFERENCED table's stride — so the join graph becomes
  ``factor`` disconnected copies of the original. Joins, aggregations
  and graph algorithms see exactly factor-x rows with the original
  key-distribution shape (skew included) per block.
* ``documents.text`` is transformed per replica with a BIJECTIVE
  character rotation (see :func:`_rotate_text`) — within-replica
  duplicate/near-dup structure, token-shingle dfs, char-n-gram dfs,
  and all length statistics are preserved EXACTLY (the same bijection
  applies to every doc), while cross-replica n-grams share nothing.
  Duplicate RATE therefore stays constant as the corpus grows, which
  is the honest target shape: naive replication would instead make
  every doc a 10-way near-dup of itself and quadratically inflate the
  true pair count, drowning the measurement.
* ``embeddings.embedding`` is rotated by ``k`` positions (numpy roll)
  COMPOSED with a per-replica sign flip keyed on the bits of ``k``
  (component j flips iff bit j%8 of k is set): the combined transform
  is orthogonal, so norms and within-replica cosine structure are
  identical, while cross-replica vectors decorrelate — and its period
  is lcm(64, 256) = 256, so no factor ≤ 130 produces byte-identical
  replica embeddings (roll alone repeats at k+64, which would
  manufacture cross-replica cosine-1.0 pairs and quadratically inflate
  the true pair count). Seed centroids (``vec_id < K``) keep pointing
  at replica-0 originals because offsets only grow ids.
* Dimension tables (region, nation) are copied unchanged — dims don't
  scale with fact data, and nationkey references stay valid.
* Everything is a pure function of the source bytes: no RNG, no
  timestamps. A ``_SCALE_MANIFEST.json`` records the source file
  hashes + factor so repeated calls are idempotent and a regenerated
  source corpus forces a rebuild instead of silently mixing vintages.
"""

from __future__ import annotations

import hashlib
import json
import os

# (key columns to offset) per table; foreign keys name the table whose
# stride they follow. Tables absent here are copied unchanged.
_KEYS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
    "events": {"event_id": "events", "user_id": "events_user"},
}

# (table, column) whose max defines each stride.
_STRIDE_SOURCE: dict[str, tuple[str, str]] = {
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
    "events": ("events", "event_id"),
    "events_user": ("events", "user_id"),
}

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
    "events",
]


def _char_rotation(k: int) -> dict[int, int]:
    """str.translate table for replica k: rotate a-z / A-Z by k mod 26
    and 0-9 by k mod 10; everything else (spaces, punctuation)
    unchanged. Case-compatible with the dedup tokenizer's lower():
    lower(rot(c)) == rot(lower(c))."""
    table: dict[int, int] = {}
    for base, span in ((ord("a"), 26), (ord("A"), 26), (ord("0"), 10)):
        for i in range(span):
            table[base + i] = base + (i + k) % span
    return table


def _rotate_text(texts, k: int):
    """Replica-k text transform: a per-replica BIJECTIVE character
    substitution (Caesar-style rotation of letters and digits).

    Why a bijection and not a token suffix: the transform must
    preserve every distributional property the dedup tier's cost
    depends on — token-shingle document frequencies, CHAR-n-gram
    document frequencies, text lengths — while decorrelating
    replicas. Two earlier drafts failed measurably (caught by the
    rehearsal itself): a ``tok~k`` suffix was split by the
    tokenizer's ``[^a-z0-9]`` normalization into standalone digit
    tokens (collapsing k-shingles into unigram anchors, x104 wall),
    and an alnum ``tokxkx`` suffix preserved token shingles but
    injected 4 shared boilerplate chars into every 24-char window,
    inflating char-span dfs 17x per replica (x87 wall on
    substring-span dedup). A character bijection is distortion-free
    by construction: within a replica every pairwise relation between
    docs is EXACTLY the source relation (the same bijection applies
    to both sides), and cross-replica n-grams collide only on
    letterless/digitless spans. Lengths are untouched, so n_chars
    and every length-based quality score replicate exactly.

    Period: letters cycle at 26, digits at 10 -> replicas collide
    only at k ≡ 0 (mod lcm(26,10)=130); factors above 130 would need
    a second rotation key."""
    if k == 0:
        return texts
    table = _char_rotation(k)
    return [None if t is None else t.translate(table) for t in texts]


# --- zipfian skew variant (skew="zipf") -----------------------------
#
# The uniform replica model above preserves the SOURCE distributions
# exactly — which is precisely why it cannot exercise skew handling
# (salted aggregation, AQE skew joins, posting-list caps, the LSH
# bucket cap): every key's share of the corpus is constant. The zipf
# variant layers five deterministic, replica-invariant distortions on
# top, each targeting one skew class a real 100 TB corpus exhibits and
# each with its share GROWING with the corpus (the scale-out hot key):
#
# * hot-key remap (orders.o_custkey, events.user_id): _SKEW_HOT_FRAC
#   of fact rows — hash-selected on the row's source primary key, so
#   the same rows in every replica — have their FK remapped to a
#   64-key hot set with zipf(1) weights (rank r gets share ∝ 1/(r+1)).
#   The #1 hot key holds ~hot_frac/H_64 ≈ 4.2% of ALL rows at any
#   factor: a true heavy hitter for joins and groupBys, and the hot
#   keys bridge replica blocks (the join graph is deliberately no
#   longer disconnected).
# * global boilerplate prefix (_SKEW_BP_FRAC of docs): an UNROTATED
#   shared token prefix, so its shingle dfs grow linearly with factor
#   — the hot posting list that the absolute n-gram caps must bound
#   (the uniform corpus' max shingle df is ~25 and never bites them).
# * template near-dup cluster (_SKEW_TPL_FRAC of docs): text replaced
#   by an unrotated ~30-token template + a per-source-doc variant
#   token. Cluster size grows linearly with the corpus; all members
#   share LSH band buckets — the hot-bucket pathology minhash's
#   bucket_cap exists for (uncapped pair output is honestly m²).
# * zipf length tail (_SKEW_LEN_FRAC of docs): text repeated ×2/4/8/16
#   on nested hash slices (10%/20%/30%/40% of the selected docs) —
#   per-row work skew / straggler pressure; ~+21% corpus bytes.
# * embedding hot-direction cluster (_SKEW_EMB_FRAC of vectors): one
#   shared direction + per-replica-vector jitter — a genuine near-dup
#   clique (pairwise cosine ~0.75) that all lands in ONE sign bucket
#   and ONE SemDeDup cell; the embedding analog of the template text
#   cluster (see _apply_embedding_skew).
#
# Everything is a pure function of source bytes (splitmix64 over the
# source primary key, seeded per tag by md5 of the tag string): no
# RNG, rebuild-idempotent via the manifest, and pinned by
# tests/test_scale.py's skew-distribution assertions.
_SKEW_HOT_FRAC = 0.20
_SKEW_HOT_KEYS = 64
_SKEW_BP_FRAC = 0.08
_SKEW_TPL_FRAC = 0.004
_SKEW_LEN_FRAC = 0.05
# Embedding hot-direction cluster: _SKEW_EMB_FRAC of eligible vectors
# (source ids below max(256, n_src/8) are protected, so the seed
# centroids — vec_id < K, K = n/250 up to factor ~30 — stay natural)
# are replaced by one shared direction + per-replica-vector jitter —
# pairwise cosine ~0.75 (all above the 0.5 dedup threshold, so the
# cluster is a genuine m-member near-dup clique whose PAIR LISTING is
# m²), first 8 components held positive so every member lands in ONE
# sign bucket (the sign-bucket analog of the LSH hot band bucket).
# Grows linearly with the corpus: the embedding-tier skew pathology
# the head_cap knobs exist for.
_SKEW_EMB_FRAC = 0.02
_SKEW_EMB_MIN_ID_FLOOR = 256
# Bumped when any skew transform changes: the manifest otherwise only
# hashes the SOURCE bytes, so a cached corpus built by an older
# transform would be silently reused.
_SKEW_VERSION = 2
# Bumped when the UNIFORM replica transform changes (text rotation,
# embedding roll/sign-flip, key strides). Recorded in EVERY manifest —
# the r5 embedding sign-flip change was guarded only for the skew path
# via _SKEW_VERSION, so a cached uniform corpus built by the older
# roll-only transform still matched its manifest and was silently
# reused. Any transform edit must bump this.
_REPLICA_VERSION = 2
_SKEW_BP = (
    "common header boilerplate navigation menu copyright terms "
    "privacy policy contact"
)
_SKEW_TPL = (
    "standard product listing template page with identical layout "
    "description shipping returns warranty details customer service "
    "hours payment options checkout instructions and footer links "
    "repeated across the catalog"
)


def _u01(keys, tag: str):
    """Deterministic uniform [0,1) per integer key: splitmix64 with a
    per-tag seed (md5 of the tag). Vectorized, no RNG state."""
    import numpy as np

    seed = int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big")
    x = keys.astype(np.uint64) + np.uint64(seed)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return x.astype(np.float64) / 2.0**64


def _zipf_ranks(u):
    """Map uniforms to hot-set ranks with zipf(1) weights via the
    inverse CDF (rank r's share ∝ 1/(r+1) over _SKEW_HOT_KEYS)."""
    import numpy as np

    w = 1.0 / np.arange(1, _SKEW_HOT_KEYS + 1)
    cdf = np.cumsum(w) / w.sum()
    return np.searchsorted(cdf, u, side="right").clip(0, _SKEW_HOT_KEYS - 1)


def _skew_hot_set(src_dir: str, table: str, column: str):
    """The hot-key target set: the _SKEW_HOT_KEYS smallest distinct
    SOURCE values of the referenced key (replica-0 ids, never offset —
    hot keys are global across replicas)."""
    import numpy as np
    import pyarrow.parquet as pq

    vals = (
        pq.read_table(os.path.join(src_dir, f"{table}.parquet"), columns=[column])
        .column(column)
        .to_numpy(zero_copy_only=False)
    )
    return np.sort(np.unique(vals))[:_SKEW_HOT_KEYS]


def _skew_length_mult(u):
    """Zipf-ish repeat multiplier for the length tail: 16/8/4/2 on
    10%/20%/30%/40% nested slices of the selected docs."""
    if u < 0.1:
        return 16
    if u < 0.3:
        return 8
    if u < 0.6:
        return 4
    return 2


def _apply_doc_skew(ids, texts):
    """Template replace / boilerplate prefix / length tail for one
    replica's (already rotated) document texts. Selection is keyed on
    the SOURCE doc_id, so the same docs are transformed in every
    replica; the injected template/boilerplate strings are NOT rotated
    — their token collisions across replicas are the point."""
    u_tpl = _u01(ids, "tpl")
    u_bp = _u01(ids, "bp")
    u_len = _u01(ids, "len")
    u_lenm = _u01(ids, "lenm")
    out = []
    for i, t in enumerate(texts):
        if t is None:
            out.append(None)
            continue
        if u_tpl[i] < _SKEW_TPL_FRAC:
            t = f"{_SKEW_TPL} v{int(ids[i])}x"
        elif u_bp[i] < _SKEW_BP_FRAC:
            t = f"{_SKEW_BP} {t}"
        if u_len[i] < _SKEW_LEN_FRAC:
            t = " ".join([t] * _skew_length_mult(u_lenm[i]))
        out.append(t)
    return out


def _apply_embedding_skew(src_ids, final_ids, mat):
    """Replace the hot-direction slice of one replica's embedding
    matrix (selection on SOURCE vec_id; jitter keyed on the FINAL
    replica vec_id so replicas of the same source vector are near-dups,
    never byte-identical). Head components (first 8) stay positive —
    one shared sign bucket; tail jitter is sized for pairwise cosine
    ≈ 0.75, comfortably above the 0.5 dedup threshold."""
    import numpy as np

    min_id = max(_SKEW_EMB_MIN_ID_FLOOR, (int(src_ids.max()) + 1) // 8)
    mask = (_u01(src_ids, "embhot") < _SKEW_EMB_FRAC) & (src_ids >= min_id)
    if not mask.any():
        return mat
    dim = mat.shape[1]
    base = np.where(np.arange(dim) < 8, 0.25, 0.05)
    scale = np.where(np.arange(dim) < 8, 0.1, 0.2)
    sel = np.nonzero(mask)[0]
    keys = (final_ids[sel, None] * np.int64(dim) + np.arange(dim)[None, :])
    jit = (_u01(keys.ravel(), "ej").reshape(len(sel), dim) - 0.5) * scale
    mat = mat.copy()
    mat[sel] = (base[None, :] + jit).astype(mat.dtype)
    return mat


def _apply_key_skew(src_keys, fk_after_offset, hot_set):
    """Remap _SKEW_HOT_FRAC of rows (selected on the source primary
    key) to zipf-weighted members of the hot set; the rest keep their
    stride-offset FK."""
    import numpy as np

    mask = _u01(src_keys, "hot") < _SKEW_HOT_FRAC
    # Clip for corpora with fewer distinct keys than the hot-set size
    # (sf0.001 tests); excess ranks collapse onto the tail key, which
    # only makes the distribution MORE skewed.
    ranks = _zipf_ranks(_u01(src_keys, "rank")).clip(0, len(hot_set) - 1)
    return np.where(mask, hot_set[ranks], fk_after_offset)


def _scaled_replica(
    table: str, tbl, k: int, strides: dict[str, int], skew_info=None
):
    """Replica k of one source table as a new pyarrow Table."""
    import numpy as np
    import pyarrow as pa

    if k == 0 and skew_info is None:
        return tbl
    cols = {name: tbl.column(name) for name in tbl.schema.names}
    for col, stride_of in _KEYS.get(table, {}).items():
        arr = cols[col].to_numpy(zero_copy_only=False)
        cols[col] = pa.array(
            arr + k * strides[stride_of], type=tbl.schema.field(col).type
        )
    if table == "documents":
        # Character-rotated text; n_chars needs no touch — the
        # bijection is length-preserving by construction. (The skew
        # variant's template/boilerplate/length edits DO change
        # lengths, so it recomputes n_chars.)
        texts = _rotate_text(tbl.column("text").to_pylist(), k)
        if skew_info is not None:
            src_ids = tbl.column("doc_id").to_numpy(zero_copy_only=False)
            texts = _apply_doc_skew(src_ids, texts)
            cols["n_chars"] = pa.array(
                [None if t is None else len(t) for t in texts],
                tbl.schema.field("n_chars").type,
            )
        cols["text"] = pa.array(texts, pa.string())
    if skew_info is not None and table == "orders":
        cols["o_custkey"] = pa.array(
            _apply_key_skew(
                tbl.column("o_orderkey").to_numpy(zero_copy_only=False),
                cols["o_custkey"].to_numpy(zero_copy_only=False),
                skew_info["hot_custkeys"],
            ),
            tbl.schema.field("o_custkey").type,
        )
    if skew_info is not None and table == "events":
        cols["user_id"] = pa.array(
            _apply_key_skew(
                tbl.column("event_id").to_numpy(zero_copy_only=False),
                cols["user_id"].to_numpy(zero_copy_only=False),
                skew_info["hot_users"],
            ),
            tbl.schema.field("user_id").type,
        )
    if table == "embeddings":
        mat = np.array(cols["embedding"].to_pylist(), dtype=np.float32)
        # Roll alone has period dim (=64): replicas k and k+64 would be
        # byte-identical, manufacturing cross-replica cosine-1.0 pairs
        # that quadratically inflate the true pair count. Compose it
        # with a per-replica deterministic sign flip (component j flips
        # iff bit j%8 of k is set): the combined transform is
        # orthogonal (permutation × diag ±1), so within-replica
        # cosines AND norms are exactly the source's, and its period
        # is lcm(dim, 256) ≥ 256 > the 130 factor cap.
        rolled = np.roll(mat, k, axis=1)
        j = np.arange(mat.shape[1] if mat.ndim == 2 else 0)
        signs = np.where((k >> (j % 8)) & 1, -1.0, 1.0).astype(np.float32)
        rolled = rolled * signs
        if skew_info is not None and rolled.ndim == 2:
            rolled = _apply_embedding_skew(
                tbl.column("vec_id").to_numpy(zero_copy_only=False),
                cols["vec_id"].to_numpy(zero_copy_only=False),
                rolled,
            )
        cols["embedding"] = pa.array(
            [row.tolist() for row in rolled],
            pa.list_(pa.float32()),
        )
    return pa.table(
        {n: cols[n] for n in tbl.schema.names}, schema=tbl.schema
    )


def scale_corpus(
    src_dir: str,
    dst_dir: str,
    factor: int,
    tables: list[str] | None = None,
    skew: str | None = None,
) -> dict:
    """Materialize a factor-x corpus at dst_dir; idempotent via the
    manifest (source hashes + factor + table list). ``skew="zipf"``
    additionally applies the deterministic hot-key / boilerplate /
    template-cluster / length-tail distortions documented above.
    Returns the manifest."""
    import pyarrow.parquet as pq

    from datafusion_dist_spark.catalog import data_hashes

    if factor > 130:
        raise ValueError(
            "factor > 130 exceeds the character-rotation period "
            "(lcm(26, 10)); replicas would repeat text verbatim. "
            "(The embedding transform — roll composed with a sign "
            "flip keyed on bits of k — has period lcm(64, 256) = 256 "
            "and is not the binding constraint.)"
        )
    if skew not in (None, "zipf"):
        raise ValueError(f"unknown skew mode {skew!r} (expected 'zipf')")
    tables = list(tables or TABLES)
    manifest = {
        "factor": factor,
        "tables": tables,
        "source": data_hashes(src_dir),
        "replica_version": _REPLICA_VERSION,
    }
    if skew is not None:
        # Keys added only when set, so pre-skew uniform manifests stay
        # valid and cached corpora are not rebuilt. skew_version bumps
        # force a rebuild when a skew TRANSFORM changes (the manifest
        # otherwise only hashes source bytes).
        manifest["skew"] = skew
        manifest["skew_version"] = _SKEW_VERSION
    mpath = os.path.join(dst_dir, "_SCALE_MANIFEST.json")
    try:
        with open(mpath) as fh:
            if json.load(fh) == manifest:
                return manifest
    except (OSError, ValueError):
        pass
    os.makedirs(dst_dir, exist_ok=True)
    strides = {
        name: int(
            pq.read_table(
                os.path.join(src_dir, f"{t}.parquet"), columns=[c]
            )
            .column(c)
            .to_numpy(zero_copy_only=False)
            .max()
        )
        + 1
        for name, (t, c) in _STRIDE_SOURCE.items()
    }
    skew_info = None
    if skew == "zipf":
        skew_info = {
            "hot_custkeys": _skew_hot_set(src_dir, "customer", "c_custkey"),
            "hot_users": _skew_hot_set(src_dir, "events", "user_id"),
        }
    for table in tables:
        src = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
        dst = os.path.join(dst_dir, f"{table}.parquet")
        if table in ("region", "nation"):
            pq.write_table(src, dst)
            continue
        writer = pq.ParquetWriter(dst, src.schema)
        try:
            for k in range(factor):
                writer.write_table(
                    _scaled_replica(table, src, k, strides, skew_info)
                )
        finally:
            writer.close()
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    return manifest
