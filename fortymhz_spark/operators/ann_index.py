"""Persisted ANN indexes: train once, serve many.

Every ``pq_knn`` / ``ivf_knn`` / ``ivfpq_knn`` call re-collects a
training sample and re-trains centroids/codebooks in-process — fine
for a one-shot audit, wrong at 100 TB where an index is built once,
versioned, and served by thousands of query jobs.  This module
persists the trained state — coarse centroids, PQ codebooks, and the
sizing params — as a versioned snapshot table
(:mod:`fortymhz_spark.sources.snapshots`), inheriting its atomic CAS
publish, time travel, and concurrent-writer safety for free: an index
rebuild publishes ``v=N+1`` while running queries keep reading the
version they resolved, and a query can pin ``version=`` for exact
reproducibility.

Index state is deliberately TINY relative to the corpus it serves —
``n_coarse × dim + n_sub × n_cells × d_sub`` floats (the same
driver-side footprint the in-process fit already collects), so the
snapshot write/read costs milliseconds and the serving path loads it
with one bounded collect.

The ENCODED CORPUS is persisted separately (:func:`build_ann_codes`):
one ``(id, cell, code_0..code_{n_sub-1})`` row per corpus vector, as
its own versioned snapshot table keyed to (index version, corpus
version).  Serving from it (``ivfpq_knn(index=..., codes=...)``) is
what IVFPQ buys at rest at 100 TB — the candidate scan reads the
16×-compressed code table and never re-assigns or re-encodes the
corpus per query; raw vectors come back only for the exact-re-rank
shortlist.  :func:`load_ann_codes` fails loudly on a stale pairing
(codes built against a different index version, or a corpus version
other than the one being served).

One artifact, three access paths: the composed ivfpq index serves
``ivf_knn(index=...)`` (coarse half), ``pq_knn(index=...)``
(codebook half), and ``ivfpq_knn(index=...)`` (both) — each
byte-identical to the in-process fit of the same sizing
(tests/test_ann_recall.py).

The SERVING KNOBS are an artifact too (round-12):
:func:`save_ann_tuning` / :func:`load_ann_tuning` persist
:func:`tune_ann_serving`'s accepted (nprobe, rerank) operating point
paired to the index version — ``load_ann_serving(tuning_dir=...)``
attaches it so a knob-free ``ivfpq_knn(index=...)`` serves at the
MEASURED point instead of the closed-form defaults, and a refit
invalidates the pairing (stale knobs never ride new geometry).

Layout: one row per centroid/codeword —
``(component: 'coarse'|'book', s: subquantizer or -1, idx, vec)`` —
with the sizing params JSON in the snapshot ``note`` so a reader can
validate compatibility before touching data.

Reference parity note: the reference engine
(/root/reference/code/dask_kafka/core.py) has no vector-index
surface; this is part of the beyond-reference LLM-pipeline layer
(SURVEY.md §2.9), following the FAISS train/add/search lifecycle
split re-expressed as lakehouse artifacts.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fortymhz_spark.operators.similarity import (
    _auto_cells,
    _centroids,
    _pq_train,
)
from fortymhz_spark.sources.snapshots import (
    merge_snapshot,
    read_snapshot,
    resolve_artifact,
    write_snapshot,
)

_INDEX_SCHEMA = "component string, s int, idx int, vec array<double>"


@dataclass(frozen=True)
class AnnIndex:
    """Driver-side trained ANN state, loaded from (or about to be
    written to) a snapshot table.  ``coarse`` is ``n_coarse × dim``;
    ``books`` is ``n_sub × n_cells × d_sub`` (the exact shapes
    ``ivfpq_knn`` trains in-process, so serving from an index is
    bit-identical to serving from a fresh fit of the same corpus)."""

    kind: str
    coarse: list
    books: list
    dim: int
    n_sub: int
    n_cells: int
    d_sub: int
    version: int = 0
    # FAISS by_residual: codebooks quantize (vn - anchor[cell]) rather
    # than vn.  INDEX state, not a query knob — codes and ADC must live
    # in the space the codebooks were trained in, so the pairing check
    # treats it as geometry.
    by_residual: bool = False
    # OPQ: rotation mode name (None | "opq") and the dim×dim matrix
    # itself.  INDEX state exactly like by_residual — codes and ADC
    # must rotate with the space the codebooks were trained in, so the
    # pairing check treats the MODE as geometry (the matrix rides the
    # artifact rows).
    rotation: str | None = None
    rot: list | None = None
    # Persisted serving knobs (save_ann_tuning / load_ann_tuning):
    # NOT geometry — a measured (nprobe, rerank) operating point for
    # this index version, attached by load_ann_serving(tuning_dir=)
    # so ivfpq_knn(index=...) defaults to the tuned point instead of
    # the closed-form formulas.  Explicit query knobs always win.
    tuning: dict | None = None

    @property
    def n_coarse(self) -> int:
        return len(self.coarse)


def build_ann_index(
    corpus: DataFrame,
    table_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int | None = None,
    n_sub: int = 8,
    n_cells: int = 16,
    train_rounds: int = 8,
    train_sample: int = 512,
    dim: int | None = None,
    by_residual: bool = False,
    rotation: str | None = None,
    expected_current: int | None = None,
) -> int:
    """Train an IVFPQ index from ``corpus`` and publish it as the next
    version of the snapshot table at ``table_dir``; returns the
    version number.  Training is EXACTLY ``ivfpq_knn``'s fit path —
    lowest-id coarse seeds (:func:`_centroids`), bounded-sample Lloyd
    codebooks (:func:`_pq_train`), ``n_coarse=None`` → ⌈√N⌉
    (:func:`_auto_cells`) — so a query served from this artifact
    returns byte-identical rows to one that re-fit in-process
    (deterministic fits; pinned by q_emb_ann_ivfpq_persisted).

    ``by_residual=True`` trains the codebooks on residuals vs the
    normalized coarse centroid (FAISS's deployment default — see
    ``ivfpq_knn``); the mode is recorded as index GEOMETRY, inherited
    by every encode/serve against this artifact, and the codes-table
    pairing check refuses to mix modes.  ``rotation="opq"`` trains a
    parametric-OPQ rotation before the subquantizer split
    (``similarity._opq_rotation`` — eigenvalue-balanced PCA
    allocation, Ge et al. 2013) and Lloyd-trains the codebooks in the
    rotated space; the matrix rides the artifact as ``component:
    'rot'`` rows and the MODE joins the pairing-check geometry, so
    raw codes can never be ADC'd under rotated codebooks or vice
    versa.  Composes with ``by_residual`` (rotation applies to the
    residual).

    ``rotation="auto"`` (round-13) applies the MEASURED
    per-corpus-class rule at build time — isotropic → raw (the r11
    table: OPQ is pure overhead there), anisotropic → opq (the r12
    table: +0.20/+0.49/+0.64 recall at 1×/10×/100× under tight
    rerank): the training sample's contiguous-block moment-mass
    statistic (``similarity._anisotropy_stat`` — the imbalance the
    rotation exists to repair, measured on the SAME bounded sample
    the codebooks train on) against the pre-declared
    ``similarity.ANISOTROPY_OPQ_THRESHOLD`` picks the mode; an
    auto-raw decision skips the eigendecomposition entirely.  The
    RESOLVED mode is what the artifact records as
    ``rotation`` (so load/serve/extend/delete/refit inherit the
    DECISION, never re-roll it); ``rotation_requested`` /
    ``anisotropy`` / ``anisotropy_threshold`` ride the params as the
    audit trail.

    Cost: the same two bounded collects the in-process fit pays, one
    tiny parquet write, one atomic manifest commit.  Query-time knobs
    (``nprobe``/``rerank``/``k``) are NOT index state — they resolve
    per query against the serving corpus."""
    spark = corpus.sparkSession
    n_coarse = _auto_cells(corpus, n_coarse)
    coarse = _centroids(corpus, id_col, vec_col, n_coarse)
    d_sub, books, rot, rot_info = _pq_train(
        corpus, id_col, vec_col, n_sub, n_cells, train_rounds,
        train_sample, dim,
        coarse=coarse if by_residual else None,
        rotation=rotation,
    )
    rows = [
        ("coarse", -1, i, [float(x) for x in c])
        for i, c in enumerate(coarse)
    ] + [
        ("book", s, c, [float(x) for x in books[s][c]])
        for s in range(n_sub)
        for c in range(n_cells)
    ] + [
        ("rot", -1, i, [float(x) for x in r])
        for i, r in enumerate(rot or [])
    ]
    params = {
        "kind": "ivfpq",
        "dim": d_sub * n_sub,
        "n_coarse": len(coarse),
        "n_sub": n_sub,
        "n_cells": n_cells,
        "d_sub": d_sub,
        "train_rounds": train_rounds,
        "train_sample": train_sample,
        "by_residual": by_residual,
        # the RESOLVED mode (what every encode/serve against this
        # artifact must apply); for rotation="auto" the request, the
        # decision statistic, and its pre-declared threshold are
        # recorded alongside so the call is auditable from the
        # artifact alone (round-13).  extend/delete/refit inherit the
        # RESOLVED mode — a geometry re-decision is an explicit
        # rebuild with rotation="auto".
        "rotation": rot_info["rotation"],
        "rotation_requested": rot_info["requested"],
        "anisotropy": rot_info["anisotropy"],
        "anisotropy_threshold": rot_info["anisotropy_threshold"],
    }
    df = spark.createDataFrame(rows, _INDEX_SCHEMA)
    return write_snapshot(
        df,
        table_dir,
        note="ann_index " + json.dumps(params, sort_keys=True),
        # CAS pin for refit flows: veto the publish if another fit
        # landed since the caller resolved its base version
        expected_current=expected_current,
    )


def load_ann_index(
    spark: SparkSession, table_dir: str, *, version: int | None = None
) -> AnnIndex:
    """Load a persisted index (current version, or a pinned
    ``version=`` for time travel) into driver-side literals ready for
    ``ivfpq_knn(index=...)``.  One bounded collect of
    ``n_coarse + n_sub·n_cells`` rows; params come from the snapshot
    note, and the row inventory is validated against them so a
    corrupted or truncated artifact fails loudly here, not as a wrong
    ADC deep in a serving query."""
    version, params = resolve_artifact(
        table_dir, "ann_index ", version=version
    )
    rows = read_snapshot(spark, table_dir, version=version).collect()
    coarse_rows = sorted(
        ((r["idx"], r["vec"]) for r in rows if r["component"] == "coarse")
    )
    book_rows = [
        (r["s"], r["idx"], r["vec"]) for r in rows if r["component"] == "book"
    ]
    rot_rows = sorted(
        ((r["idx"], r["vec"]) for r in rows if r["component"] == "rot")
    )
    coarse = [list(v) for _, v in coarse_rows]
    n_sub, n_cells = int(params["n_sub"]), int(params["n_cells"])
    books: list = [[None] * n_cells for _ in range(n_sub)]
    for s, c, v in book_rows:
        books[s][c] = list(v)
    rotation = params.get("rotation") or None
    rot = [list(v) for _, v in rot_rows] or None
    if (
        len(coarse) != int(params["n_coarse"])
        or any(cell is None for book in books for cell in book)
        or (rotation is not None) != (rot is not None)
        or (rot is not None and len(rot) != int(params["dim"]))
    ):
        raise ValueError(
            f"ann_index v={version} at {table_dir} is incomplete: "
            f"{len(coarse)}/{params['n_coarse']} coarse rows, "
            f"{sum(c is not None for b in books for c in b)}/"
            f"{n_sub * n_cells} codewords, "
            f"{len(rot or [])} rotation rows for rotation={rotation!r}"
        )
    return AnnIndex(
        kind=str(params["kind"]),
        coarse=coarse,
        books=books,
        dim=int(params["dim"]),
        n_sub=n_sub,
        n_cells=n_cells,
        d_sub=int(params["d_sub"]),
        version=version,
        # pre-residual artifacts carry no key: they encoded vn directly
        by_residual=bool(params.get("by_residual", False)),
        rotation=rotation,
        rot=rot,
    )


def build_ann_codes(
    corpus: DataFrame,
    table_dir: str,
    index: AnnIndex,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_version: int | None = None,
    partition_by_cell: bool = False,
    expected_current: int | None = None,
    meta_cols: list[str] | None = None,
) -> int:
    """Encode the corpus through a persisted index and publish the
    per-vector ``(id, cell, code_0..code_{n_sub-1})`` table as the
    next version of the snapshot table at ``table_dir``; returns the
    version.  This is the ADD half of the FAISS train/add/search
    lifecycle: run once per (index version, corpus version), then
    every serving query scans THESE ~``n_sub``-byte rows instead of
    re-assigning and re-encoding the full corpus in-plan — at 100 TB
    the difference between a compressed-at-rest cell-pruned scan and
    a per-query O(corpus · n_coarse · dim) encode pass.

    ``partition_by_cell=True`` lays the table out as one partition
    directory per coarse cell — the INVERTED FILE made literal in the
    storage layout.  The serving join on ``cell`` then qualifies for
    dynamic partition pruning: only the PROBED cells' files are read
    (``nprobe / n_coarse`` of the table), which is the second half of
    what IVF buys at rest — candidate ROWS were already cell-bounded,
    this bounds the BYTES SCANNED the same way.  Off by default only
    because tiny fixtures don't repay per-directory overhead; a
    deployment-size corpus wants it on.

    The encode is EXACTLY :func:`ivfpq_knn`'s in-plan expressions
    (:func:`~fortymhz_spark.operators.similarity._ivfpq_codes` — same
    deterministic tie-breaks), so serving from the artifact is
    byte-identical to the in-plan encode of the same corpus.

    ``corpus_version`` pins which corpus snapshot these codes
    describe; :func:`load_ann_codes` refuses to serve a mismatched
    pin — the staleness failure mode (corpus moved, codes didn't) is
    silent wrong-recall otherwise.  The index pairing (version + full
    geometry) is recorded and validated the same way.  Map-only: no
    shuffle; one slim parquet write + atomic manifest commit.

    ``meta_cols=`` copies the named corpus columns (label, lang,
    source, …) INTO the codes table — metadata AT REST, the
    filtered-search enabler: ``ivfpq_knn(codes=...,
    corpus_filter=...)`` then pushes the predicate straight into the
    codes scan as a parquet PushedFilter instead of semi-joining the
    corpus (zero extra joins at serve time — at 100 TB the difference
    between pruned code files and a corpus-sized join per query).
    The column set is recorded in the note; extends INHERIT it.  The
    invariant — a codes table must never hold rows with silently-NULL
    filter attributes — is enforced at BOTH granularities: a batch
    missing a recorded COLUMN fails loudly (:func:`_join_meta`), and
    NULL meta VALUES are rejected too (``isNotNull`` CHECK
    constraints riding this write's read-back pass; extends run the
    same check as one batch-bounded aggregate), because a NULL value
    is invisible to every pushed-down predicate — the silent recall
    leak metadata-at-rest exists to prevent.  Costs one id-keyed join
    at BUILD time, a one-time price the serve path never pays
    again."""
    from fortymhz_spark.operators.similarity import _ivfpq_codes

    if index.kind != "ivfpq":
        raise ValueError(
            f"build_ann_codes needs an 'ivfpq' index, got {index.kind!r}"
        )
    meta_cols = list(meta_cols or [])
    codes = _ivfpq_codes(
        corpus, id_col, vec_col, index.coarse, index.books,
        index.n_sub, index.n_cells, index.d_sub,
        by_residual=index.by_residual,
        rot=getattr(index, "rot", None),
    ).withColumnRenamed("neighbor_id", "id")
    codes = _join_meta(codes, corpus, id_col, vec_col, meta_cols, index)
    params = {
        "kind": "ivfpq_codes",
        "index_version": index.version,
        "n_coarse": index.n_coarse,
        "n_sub": index.n_sub,
        "n_cells": index.n_cells,
        "d_sub": index.d_sub,
        "dim": index.dim,
        "by_residual": index.by_residual,
        "rotation": getattr(index, "rotation", None),
        "corpus_version": corpus_version,
        "meta_cols": meta_cols,
    }
    return write_snapshot(
        codes,
        table_dir,
        partition_by=["cell"] if partition_by_cell else None,
        note="ann_codes " + json.dumps(params, sort_keys=True),
        expected_current=expected_current,
        # the no-silently-NULL-filter-attributes invariant, enforced
        # as CHECK constraints riding write_snapshot's existing
        # read-back pass (zero extra scans): a NULL meta value would
        # make the row invisible to every pushed-down predicate —
        # exactly the silent recall leak metadata-at-rest exists to
        # prevent (presence checks alone let NULL VALUES through)
        checks=(
            {f"meta_{c}_not_null": F.col(c).isNotNull() for c in meta_cols}
            or None
        ),
    )


def _validate_codes_pairing(
    v: int, params: dict, table_dir: str, index: AnnIndex, action: str
) -> None:
    """The ONE copy of the (index, codes) pairing check shared by
    extend / delete / load: the codes must have been built against
    exactly this index version AND geometry — codes from two fits must
    never mix, and a geometry key added here protects every path at
    once (the checks exist to prevent silent corruption; diverging
    copies of them would be the same failure one level up)."""
    if (
        int(params["index_version"]) != int(index.version)
        or any(
            int(params[k]) != int(getattr(index, k))
            for k in ("n_coarse", "n_sub", "n_cells", "d_sub", "dim")
        )
        # encode mode IS geometry: raw codes ADC'd under residual
        # codebooks (or vice versa) rank garbage silently.  Old tables
        # lack the key → they were encoded raw.
        or bool(params.get("by_residual", False))
        != bool(getattr(index, "by_residual", False))
        # rotation mode too: unrotated codes under rotated codebooks
        # (or vice versa) are the same silent corruption.  Old tables
        # lack the key → they were encoded unrotated.
        or (params.get("rotation") or None)
        != (getattr(index, "rotation", None) or None)
    ):
        raise ValueError(
            f"ann_codes v={v} at {table_dir} was built against index "
            f"v={params['index_version']} "
            f"(n_coarse={params['n_coarse']}, n_sub={params['n_sub']}, "
            f"n_cells={params['n_cells']}) but the {action} uses index "
            f"v={index.version} (n_coarse={index.n_coarse}, "
            f"n_sub={index.n_sub}, n_cells={index.n_cells}) — codes "
            "from two fits must never mix (a different fit also must "
            "never extend or tombstone this table); rebuild the codes "
            "or load the matching index version"
        )


def _join_meta(
    codes: DataFrame,
    source: DataFrame,
    id_col: str,
    vec_col: str,
    meta_cols: list[str],
    index: AnnIndex,
) -> DataFrame:
    """Attach metadata-at-rest columns to encoded rows: validate the
    names don't collide with the codes schema and that the source
    frame carries them, then one id-keyed join (build/extend-time
    only — the serve path reads them straight off the parquet)."""
    if not meta_cols:
        return codes
    reserved = {"id", "cell", id_col, vec_col} | {
        f"code_{s}" for s in range(index.n_sub)
    }
    bad = [c for c in meta_cols if c in reserved]
    if bad:
        raise ValueError(
            f"meta_cols {bad} collide with the codes schema "
            f"(id/cell/code_*/{id_col}/{vec_col})"
        )
    missing = [c for c in meta_cols if c not in source.columns]
    if missing:
        raise ValueError(
            f"meta_cols {missing} absent from the corpus/batch frame — "
            "a codes table must never hold rows with silently-NULL "
            "filter attributes"
        )
    return codes.join(
        source.select(F.col(id_col).alias("id"), *meta_cols), ["id"]
    )


def _inherit_pin(params: dict, corpus_version: int | None) -> dict:
    """New note params for a codes mutation: ``corpus_version=None``
    INHERITS the table's existing pin — a mutation that forgot to
    re-pass the version must not strip a pinned table of its
    staleness guard."""
    return {
        **params,
        "corpus_version": (
            params.get("corpus_version")
            if corpus_version is None
            else corpus_version
        ),
    }


def extend_ann_codes(
    new_vecs: DataFrame,
    table_dir: str,
    index: AnnIndex,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_version: int | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Encode ONLY an arriving batch of vectors and MERGE its
    ``(id, cell, code_*)`` rows into the codes table as the next
    version — the incremental ADD step of the FAISS lifecycle, and the
    ingest-time form at 100 TB: when the day's vectors arrive, the
    archive's codes are read-only history; re-running
    :func:`build_ann_codes` would re-encode the whole corpus to add a
    sliver.  Keyed upsert on ``id`` (re-ingesting a vector id replaces
    its codes), published with a fresh ``ann_codes`` note carrying the
    same index pairing and the NEW ``corpus_version``, so
    :func:`load_ann_codes`'s staleness guards keep working across
    extends and a pinned older version still time-travels.

    Validates the (index, table) pairing FIRST — extending someone
    else's codes with this index's geometry would corrupt the table
    silently.  ``corpus_version=None`` INHERITS the table's existing
    pin (it must not silently erase the staleness guard
    :func:`load_ann_codes` enforces — an extend that forgot to re-pass
    the version would otherwise strip a previously pinned table of
    its corpus-drift protection).  An EMPTY batch is a true no-op
    returning the current version unchanged — an ingest window that
    admitted zero vectors must not crash the maintenance loop (the
    same contract as :func:`delete_ann_codes` and the PCA moment
    maintenance).  Cost: one map-only encode of the
    batch + the snapshot MERGE's anti-join/rewrite (the documented
    copy-on-write term)."""
    from fortymhz_spark.operators.similarity import _ivfpq_codes

    v, params = resolve_artifact(table_dir, "ann_codes ")
    _validate_codes_pairing(v, params, table_dir, index, "extend")
    if new_vecs.isEmpty():
        return v
    codes = _ivfpq_codes(
        new_vecs, id_col, vec_col, index.coarse, index.books,
        index.n_sub, index.n_cells, index.d_sub,
        by_residual=index.by_residual,
        rot=getattr(index, "rot", None),
    ).withColumnRenamed("neighbor_id", "id")
    # metadata-at-rest tables INHERIT their recorded column set: the
    # arriving batch must carry every recorded attribute
    meta_cols = list(params.get("meta_cols") or [])
    codes = _join_meta(codes, new_vecs, id_col, vec_col, meta_cols, index)
    if meta_cols:
        # the build path's CHECK constraint, applied to the batch:
        # merge_snapshot has no checks= hook, so the NULL-value half
        # of the no-silently-NULL-filter-attributes invariant runs
        # here as one bounded aggregate over the BATCH (never the
        # table) before anything merges
        row = codes.agg(
            *[
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(c)
                for c in meta_cols
            ]
        ).first()
        bad = {c: int(row[c] or 0) for c in meta_cols if row and row[c]}
        if bad:
            raise ValueError(
                f"extend_ann_codes: NULL metadata values in the batch "
                f"— {bad} (column: NULL-row count).  A codes table "
                "must never hold rows with silently-NULL filter "
                "attributes; drop or backfill those rows upstream"
            )
    new_params = _inherit_pin(params, corpus_version)
    return merge_snapshot(
        new_vecs.sparkSession,
        table_dir,
        codes,
        ["id"],
        note="ann_codes " + json.dumps(new_params, sort_keys=True),
        txn=txn,
    )


def delete_ann_codes(
    deleted: DataFrame,
    table_dir: str,
    index: AnnIndex,
    *,
    id_col: str = "vec_id",
    corpus_version: int | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Propagate corpus DELETIONS into the codes table as the next
    version — the tombstone half the extend path alone leaves open:
    the dedup pipeline this engine is built around REMOVES documents,
    and a codes table that only ever grows keeps serving vanished ids
    until a full refit (``ivfpq_knn(codes=...)`` would shortlist them,
    then the re-rank fetch silently drops them — a recall leak, or a
    phantom id if the raw vectors linger elsewhere).  Keyed MERGE
    delete through the snapshot layer's delete arm
    (``sources/snapshots.py::merge_snapshot`` ``delete_col=``):
    deleting an absent id is a no-op, so replaying the same delete
    batch is idempotent.

    ``deleted`` carries the ids to remove in ``id_col`` (any extra
    columns are ignored; duplicate ids are collapsed and NULL ids are
    dropped — a delete has no per-row payload to be ambiguous about,
    and "delete the NULL id" names no row).  An EMPTY delete batch is
    a true no-op: the current version is returned unchanged (a dedup
    pass that dropped zero documents must not crash the pipeline).
    Validates the (index, table) pairing first, exactly like
    :func:`extend_ann_codes` — the version advance must never be
    mistaken for a geometry change.  ``corpus_version`` pins the
    POST-delete corpus snapshot; ``None`` inherits the prior pin
    (same contract as extend).

    After the delete the table is byte-identical to
    :func:`build_ann_codes` re-run on the surviving corpus (per-row
    deterministic encode; pinned by tests/test_ann_index.py), at the
    cost of one merge rewrite instead of a full corpus re-encode.
    Cell-partitioned layouts survive: the merge re-publishes under the
    table's recorded ``partition_by`` and tombstones never write data
    rows."""
    v, params = resolve_artifact(table_dir, "ann_codes ")
    _validate_codes_pairing(v, params, table_dir, index, "delete")
    spark = deleted.sparkSession
    target = read_snapshot(spark, table_dir, version=v)
    dtypes = dict(target.dtypes)
    tomb = (
        deleted.select(F.col(id_col).cast(dtypes["id"]).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
    )
    if tomb.isEmpty():
        return v
    for c in target.columns:
        if c != "id":
            tomb = tomb.withColumn(c, F.lit(None).cast(dtypes[c]))
    tomb = tomb.withColumn("__delete__", F.lit(True))
    new_params = _inherit_pin(params, corpus_version)
    return merge_snapshot(
        spark,
        table_dir,
        tomb,
        ["id"],
        delete_col="__delete__",
        note="ann_codes " + json.dumps(new_params, sort_keys=True),
        txn=txn,
    )


def ann_drift_report(
    corpus: DataFrame,
    index: AnnIndex,
    *,
    vec_col: str = "embedding",
    label: str = "current",
) -> DataFrame:
    """Index STALENESS as a number: the mean/max ADC quantization
    error of ``corpus`` under this index's codebooks — per row, the
    sum over subquantizers of the squared L2 distance from the
    normalized subvector to its NEAREST codeword (exactly the residual
    the PQ encode minimizes, so this is the error the served ADC
    ranking actually carries).  Codebooks fit at corpus v1 quietly
    degrade as the corpus drifts; recall probes need ground truth, but
    quantization error needs only one map-only scan — compare the
    report across corpus versions and "refit now" becomes a measured
    threshold instead of a guess (the FAISS index-health recipe:
    monitor reconstruction error, refit when it rises).

    One row out: ``(corpus_label, n_vectors, mean_quant_err,
    max_quant_err)``.  ``n_vectors`` counts NON-NULL error rows — a
    NULL embedding yields a NULL ``__qerr__`` that ``avg``/``max``
    already exclude, so counting it would put the report's count and
    its averages on different denominators (the same NULL discipline
    ``pca_audit`` follows).  Plan shape: map-only expressions (the
    same per-subquantizer distance-table lambdas the serving path
    uses, ``similarity._pq_dtab_col`` + ``array_min``) into one global
    aggregate — no shuffle beyond the final reduce, nothing collected
    but the single report row's inputs, linear in the corpus at any
    scale."""
    from fortymhz_spark.operators.similarity import (
        _nearest_cells,
        _pq_dtab_col,
        _pq_space,
    )

    if index.kind != "ivfpq":
        raise ValueError(
            f"ann_drift_report needs an 'ivfpq' index, got {index.kind!r}"
        )
    rot = getattr(index, "rot", None)
    if index.by_residual:
        # residual codebooks quantize (vn - anchor[cell]) — measure the
        # error in that space; the coarse cell comes from the pure
        # expression assignment so the report stays one map-only scan
        # with no Python boundary
        cells = corpus.select(
            vec_col, _nearest_cells(vec_col, index.coarse, 1)[0].alias("cell")
        )
        normed = _pq_space(
            cells, ["cell"], vec_col, coarse=index.coarse, rot=rot
        )
    else:
        normed = _pq_space(corpus, [], vec_col, rot=rot)
    vn = F.col("_vn")
    per_row = normed.select(
        sum(
            (
                F.array_min(
                    _pq_dtab_col(
                        vn, index.books, s, index.d_sub, index.n_cells
                    )
                )
                for s in range(index.n_sub)
            ),
            F.lit(0.0),
        ).alias("__qerr__")
    )
    return per_row.agg(
        F.lit(label).alias("corpus_label"),
        F.count("__qerr__").alias("n_vectors"),
        F.avg("__qerr__").alias("mean_quant_err"),
        F.max("__qerr__").alias("max_quant_err"),
    )


def load_ann_codes(
    spark: SparkSession,
    table_dir: str,
    index: AnnIndex,
    *,
    version: int | None = None,
    corpus_version: int | None = None,
) -> DataFrame:
    """Load a persisted encoded-corpus table for serving with
    ``ivfpq_knn(index=..., codes=...)`` — current version, or a pinned
    ``version=`` for time travel.  Validates the (index, codes)
    pairing BEFORE any data is touched: the codes must have been
    built against exactly this index version and geometry, and — when
    the caller pins ``corpus_version=`` — against exactly that corpus
    snapshot.  A stale pairing is the silent-wrong-recall failure
    mode (old codes rank candidates under a new index's codebooks, or
    describe vectors the corpus no longer holds), so every mismatch
    fails loudly here.  Returns the codes DataFrame (lazy — nothing
    scans until the serving query runs)."""
    from fortymhz_spark.sources.snapshots import snapshot_versions

    v, params = resolve_artifact(table_dir, "ann_codes ", version=version)
    _validate_codes_pairing(v, params, table_dir, index, "serving load")
    if corpus_version is not None and (
        params.get("corpus_version") is None
        or int(params["corpus_version"]) != int(corpus_version)
    ):
        raise ValueError(
            f"ann_codes v={v} at {table_dir} encodes corpus version "
            f"{params.get('corpus_version')} but the serving corpus is "
            f"version {corpus_version} — the corpus moved since the "
            "encode; re-run build_ann_codes against the new version"
        )
    codes = read_snapshot(spark, table_dir, version=v)
    # The manifest already records this version's live row count —
    # ride it along (a plain Python attribute on the frame, zero
    # scans) so ivfpq_knn's broad-filter guard can compare a
    # semi-join-fallback filter's id count against the served table
    # size without a codes scan (round-13, SCALE.md honest-list #5).
    rows = [
        e.get("rows")
        for e in snapshot_versions(table_dir)
        if e["version"] == v
    ]
    if rows and rows[0] is not None:
        codes._fortymhz_live_rows = int(rows[0])
    return codes


def codes_deleted_fraction(table_dir: str) -> float:
    """NET shrinkage of the codes table since its current index was
    fit: ``1 - rows(current) / rows(fresh encode under this fit)``,
    floored at 0.  The fresh-encode base is the OLDEST version whose
    note pairs the current index version — exactly the
    ``build_ann_codes``/``refit_ann_codes`` publish; extends and
    deletes inherit the pairing, so their versions never shift the
    base.  Manifest-only arithmetic (the per-version row counts the
    snapshot layer already records): zero data scans, so a monitoring
    loop can call this every trigger.

    This is the TOMBSTONE-MASS refit signal :func:`refit_ann_codes`'s
    ``deleted_fraction_threshold`` arm acts on: heavy deletes leave
    cells sparse and the ⌈√N⌉ coarse sizing stale WITHOUT moving
    quantization error, so the drift arm alone never fires.  Caveat
    by construction: it measures NET shrinkage — deletes masked by
    equal-mass extends read as 0 (per-cell sparsity from such churn
    is bounded by the drift arm's geometry signal instead)."""
    from fortymhz_spark.sources.snapshots import snapshot_versions

    v, params = resolve_artifact(table_dir, "ann_codes ")
    idx_v = int(params["index_version"])
    base_rows = cur_rows = None
    for e in snapshot_versions(table_dir):  # oldest first
        note = e.get("note", "")
        if not note.startswith("ann_codes "):
            continue
        p = json.loads(note[len("ann_codes "):])
        if int(p["index_version"]) != idx_v:
            continue
        if base_rows is None:
            base_rows = int(e["rows"])
        if e["version"] == v:
            cur_rows = int(e["rows"])
    if not base_rows or cur_rows is None:
        return 0.0
    return max(0.0, 1.0 - cur_rows / base_rows)


def refit_ann_codes(
    corpus: DataFrame,
    index_dir: str,
    codes_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_threshold: float | None = None,
    deleted_fraction_threshold: float | None = None,
    corpus_version: int | None = None,
    n_coarse: int | None = None,
) -> dict:
    """CLOSE the drift loop: measure this corpus's quantization error
    under the SERVING index (:func:`ann_drift_report`), and when it
    crosses ``drift_threshold`` rebuild index AND codes on the current
    corpus as new versions — atomically, CAS-pinned, serving
    uninterrupted.  ``ann_drift_report`` made "refit now" a number;
    this is the operator that acts on it, so index maintenance becomes
    a policy (``threshold``) instead of a manual runbook step.

    SELF-HEALING resolution (the load_ann_serving rule): the pair is
    resolved CODES-FIRST — drift is measured under the index version
    the codes table records, not whatever ``index_dir``'s current
    happens to be.  A crash between a previous refit's two publishes
    leaves index vN+1 current while the codes still pair vN; resolving
    current-index-first would fail the pairing check forever (a poison
    pill for a streaming monitor that retriggers this call), whereas
    codes-first measures against the pair actually SERVING, and the
    rebuild then publishes past the orphaned index version (the CAS
    base is the REAL current), healing the half-refit state.

    Decision rule: with NEITHER threshold set the refit is
    unconditional (the manual-rebuild form); with either set, the
    refit fires when ANY armed arm crosses — measured
    ``mean_quant_err > drift_threshold`` (geometry drift) OR
    :func:`codes_deleted_fraction` ``> deleted_fraction_threshold``
    (tombstone mass: heavy deletes leave cells sparse and the ⌈√N⌉
    coarse sizing stale without moving quantization error, so the
    drift arm alone never notices) — and is otherwise a true no-op:
    current versions are returned unchanged and nothing is written
    (a healthy index must not be churned by its own monitoring
    loop).  The fraction is manifest-only arithmetic (zero scans)
    and is always measured and returned, armed or not.

    Refit semantics: the new index inherits the current artifact's
    STRUCTURAL geometry (``n_sub``/``n_cells``/``by_residual`` and the
    recorded ``train_rounds``/``train_sample``) — those are design
    choices, not corpus measurements — while ``n_coarse=None``
    re-auto-sizes ⌈√N⌉ against the CURRENT corpus (the FAISS sizing
    rule; the whole point of the refit is that the corpus moved).  The
    codes rebuild inherits the codes table's recorded partition layout
    (cell-partitioned tables stay cell-partitioned through a refit).

    Concurrency/atomicity: both publishes are CAS-pinned
    (``expected_current=`` the versions this decision was computed
    from) — two monitoring jobs racing the same drift signal cannot
    both land (:class:`~fortymhz_spark.sources.snapshots
    .ConcurrentWriteError` vetoes the loser, who re-measures).  The
    index publishes FIRST, codes second; a reader that resolves
    through :func:`load_ann_serving` (codes-first, index pinned to the
    codes' recorded pairing) sees the old consistent pair until the
    codes flip, then the new one — never a mix, and old versions stay
    time-travelable for pinned readers.

    Returns ``{"refit": bool, "mean_quant_err": float,
    "deleted_fraction": float, "index_version": int,
    "codes_version": int}`` — the versions in force AFTER the call
    either way.

    Scale shape: the drift probe is one map-only scan; the refit costs
    exactly one :func:`build_ann_index` (two bounded collects) + one
    :func:`build_ann_codes` (map-only encode + slim write) — no step
    this function adds shuffles or collects corpus-sized data."""
    from fortymhz_spark.sources.snapshots import snapshot_versions

    spark = corpus.sparkSession
    codes_v, codes_params = resolve_artifact(codes_dir, "ann_codes ")
    idx = load_ann_index(
        spark, index_dir, version=int(codes_params["index_version"])
    )
    _validate_codes_pairing(codes_v, codes_params, codes_dir, idx, "refit")
    drift = float(
        ann_drift_report(corpus, idx, vec_col=vec_col)
        .collect()[0]["mean_quant_err"]
    )
    deleted_frac = codes_deleted_fraction(codes_dir)
    armed = (
        drift_threshold is not None
        or deleted_fraction_threshold is not None
    )
    fire = (
        (drift_threshold is not None and drift > drift_threshold)
        or (
            deleted_fraction_threshold is not None
            and deleted_frac > deleted_fraction_threshold
        )
    )
    if armed and not fire:
        return {
            "refit": False,
            "mean_quant_err": drift,
            "deleted_fraction": deleted_frac,
            "index_version": idx.version,
            "codes_version": codes_v,
        }
    # structural geometry comes from the PAIRED version's recorded
    # params; the CAS base is the table's REAL current (past any
    # orphaned half-refit publish)
    _, idx_params = resolve_artifact(index_dir, "ann_index ", version=idx.version)
    cur_idx_v, _ = resolve_artifact(index_dir, "ann_index ")
    new_idx_v = build_ann_index(
        corpus,
        index_dir,
        id_col=id_col,
        vec_col=vec_col,
        n_coarse=n_coarse,
        n_sub=idx.n_sub,
        n_cells=idx.n_cells,
        train_rounds=int(idx_params.get("train_rounds", 8)),
        train_sample=int(idx_params.get("train_sample", 512)),
        by_residual=idx.by_residual,
        rotation=getattr(idx, "rotation", None),
        expected_current=cur_idx_v,
    )
    new_idx = load_ann_index(spark, index_dir, version=new_idx_v)
    layout = [
        e for e in snapshot_versions(codes_dir) if e["version"] == codes_v
    ][0].get("partition_by", [])
    new_codes_v = build_ann_codes(
        corpus,
        codes_dir,
        new_idx,
        id_col=id_col,
        vec_col=vec_col,
        corpus_version=(
            corpus_version
            if corpus_version is not None
            else codes_params.get("corpus_version")
        ),
        partition_by_cell=(layout == ["cell"]),
        expected_current=codes_v,
        meta_cols=list(codes_params.get("meta_cols") or []),
    )
    return {
        "refit": True,
        "mean_quant_err": drift,
        "deleted_fraction": deleted_frac,
        "index_version": new_idx_v,
        "codes_version": new_codes_v,
    }


def save_ann_tuning(
    spark: SparkSession,
    table_dir: str,
    result: dict,
    *,
    index_version: int,
    codes_version: int | None = None,
    target_recall: float | None = None,
    k: int | None = None,
    expected_current: int | None = None,
) -> int:
    """Persist a :func:`tune_ann_serving` result as ARTIFACT STATE —
    the round-11 gap made operational: the tuner measured a 0.822-
    recall operating point at the 100× decade while untuned serving
    defaults measured 0.616, but nothing recorded the knobs, so every
    deployment had to re-tune by hand and ``load_ann_serving`` served
    formula defaults.  This writes the accepted ``(nprobe, rerank)``
    next to the (index, codes) version pair as its own versioned
    snapshot table — ``load_ann_serving(tuning_dir=...)`` then
    attaches it to the served index and ``ivfpq_knn(index=...)``
    defaults to the measured point.

    Pairing contract: the tuning is valid for EXACTLY the index
    version it was measured against — a refit changes geometry, so
    :func:`load_ann_tuning` treats an index-version mismatch as
    STALE and the serving path falls back to formula defaults
    (never silently serves knobs tuned for a different fit).
    ``codes_version`` is recorded as provenance; extends advance the
    codes version without touching geometry, so it does NOT
    invalidate (the tuned point drifts with ingest exactly as much
    as the corpus does — re-tune on refit, which rebuilds both).

    Rows are the full audit trail — the accepted point plus every
    ``evaluated`` (nprobe, recall) of the final width and every
    abandoned ``escalations`` width — so "why this knob" is
    answerable from the artifact alone; the note carries the
    accepted knobs for the zero-scan load path.  Tiny table
    (O(log n_coarse) rows), same snapshot machinery as the index
    itself (CAS publish, time travel)."""
    for key in ("nprobe", "rerank", "recall", "met"):
        if key not in result:
            raise ValueError(
                f"save_ann_tuning needs a tune_ann_serving result "
                f"dict; missing key {key!r}"
            )
    rows = [
        (
            "accepted",
            int(result["nprobe"]),
            int(result["rerank"]),
            float(result["recall"]),
        )
    ] + [
        ("evaluated", int(p), int(result["rerank"]), float(r))
        for p, r in result.get("evaluated", [])
    ] + [
        ("escalation", None, int(w), float(r))
        for w, r in result.get("escalations", [])
    ]
    params = {
        "kind": "ann_tuning",
        "index_version": int(index_version),
        "codes_version": (
            None if codes_version is None else int(codes_version)
        ),
        "nprobe": int(result["nprobe"]),
        "rerank": int(result["rerank"]),
        "recall": float(result["recall"]),
        "met": bool(result["met"]),
        "target_recall": target_recall,
        "k": k,
    }
    df = spark.createDataFrame(
        rows, "role string, nprobe int, rerank int, recall double"
    )
    return write_snapshot(
        df,
        table_dir,
        note="ann_tuning " + json.dumps(params, sort_keys=True),
        expected_current=expected_current,
    )


def load_ann_tuning(
    table_dir: str,
    *,
    index_version: int | None = None,
    version: int | None = None,
    search_history: bool = False,
    warn_stale: bool = True,
) -> dict | None:
    """Resolve the persisted serving knobs for an index version —
    the zero-scan half of the tuned-serving lifecycle (the note
    carries the accepted point; the data rows are the audit trail).
    Returns the knob dict, or ``None`` in exactly two benign cases:
    the table does not exist yet (nothing has been tuned — serve
    formula defaults), or ``index_version`` is given and no recorded
    pairing matches (STALE: a refit republished the index; knobs
    tuned for the old geometry must not ride along — a
    ``RuntimeWarning`` flags it so a deployment notices it is back
    on formula defaults until it re-tunes).  Any other failure — a
    table that exists but is not an ``ann_tuning`` artifact, a
    pinned ``version=`` that does not exist — raises.

    ``search_history=True`` (round-13, advisor item): when the
    CURRENT tuning row pairs a different index version, scan the
    tuning table's version LINEAGE (manifest notes only — zero data
    scans) newest-first for the latest row paired to EXACTLY
    ``index_version`` and return that one.  This is what makes
    deliberate time travel work — ``load_ann_serving`` with a pinned
    ``codes_version=`` resolves an OLDER index, whose knobs are
    still on record even though a later tune is current — and it is
    equally sound unpinned (the pairing is to the exact index
    version either way).  ``warn_stale=False`` suppresses the STALE
    warning for callers that KNOW a mismatch is expected (a version
    pin is deliberate time travel, not a refit surprise — warning
    there misdiagnoses a healthy situation)."""
    import os

    from fortymhz_spark.sources.snapshots import (
        _manifest_path,
        snapshot_versions,
    )

    if not os.path.exists(_manifest_path(table_dir)):
        return None
    v, params = resolve_artifact(table_dir, "ann_tuning ", version=version)
    if (
        index_version is not None
        and int(params["index_version"]) != int(index_version)
    ):
        if search_history and version is None:
            # newest-first over the manifest's note lineage: the
            # latest tuning row paired to exactly this index version
            # (concurrent tuners and time travel both land here)
            for e in reversed(snapshot_versions(table_dir)):
                note = e.get("note", "")
                if not note.startswith("ann_tuning "):
                    continue
                p = json.loads(note[len("ann_tuning "):])
                if int(p["index_version"]) == int(index_version):
                    v, params = e["version"], p
                    break
            else:
                p = None
            if p is not None and int(params["index_version"]) == int(
                index_version
            ):
                return {
                    "nprobe": int(params["nprobe"]),
                    "rerank": int(params["rerank"]),
                    "recall": float(params["recall"]),
                    "met": bool(params["met"]),
                    "target_recall": params.get("target_recall"),
                    "k": params.get("k"),
                    "index_version": int(params["index_version"]),
                    "codes_version": params.get("codes_version"),
                    "version": v,
                }
        if warn_stale:
            import warnings

            warnings.warn(
                f"ann_tuning v={v} at {table_dir} was measured against "
                f"index v={params['index_version']} but the serving index "
                f"is v={index_version} — a refit changed the geometry, so "
                "the recorded knobs are STALE and serving falls back to "
                "formula defaults; re-run tune_ann_serving against the "
                "new index to restore the tuned operating point",
                RuntimeWarning,
                stacklevel=2,
            )
        return None
    return {
        "nprobe": int(params["nprobe"]),
        "rerank": int(params["rerank"]),
        "recall": float(params["recall"]),
        "met": bool(params["met"]),
        "target_recall": params.get("target_recall"),
        "k": params.get("k"),
        "index_version": int(params["index_version"]),
        "codes_version": params.get("codes_version"),
        "version": v,
    }


def load_ann_serving(
    spark: SparkSession,
    index_dir: str,
    codes_dir: str,
    *,
    codes_version: int | None = None,
    corpus_version: int | None = None,
    tuning_dir: str | None = None,
) -> tuple[AnnIndex, DataFrame]:
    """Resolve a CONSISTENT (index, codes) serving pair: the codes
    table is resolved first (current, or a pinned ``codes_version=``)
    and the index is loaded AT THE VERSION the codes record — so a
    read racing :func:`refit_ann_codes` (which publishes the new index
    before the new codes) serves the old consistent pair until the
    codes flip, then the new one, never index vN+1 with codes built
    against vN.  Loading "current index + current codes" independently
    has exactly that race; this is the one-call form serving jobs
    should use.  All of :func:`load_ann_codes`'s pairing and
    staleness guards still run.

    ``tuning_dir=`` attaches the persisted serving knobs
    (:func:`save_ann_tuning`) to the returned index, so
    ``ivfpq_knn(index=...)`` with no explicit ``nprobe``/``rerank``
    serves at the MEASURED operating point instead of the closed-form
    defaults (which measured 0.616 recall at the 100× decade vs the
    tuner's 0.822 — SCALE.md round 11).  The knob row is resolved by
    PAIRING, not recency: when the tuning table's current row pairs a
    different index version, the lineage is searched (manifest notes
    only, zero scans) for the latest row paired to exactly the served
    index — so a pinned ``codes_version=`` time travel serves the
    knobs that were MEASURED for that older geometry (round-13
    advisor item: warning STALE there misdiagnosed deliberate time
    travel), and a stale manual tune racing a refit's re-tune cannot
    shadow the matching row.  Only when NO row pairs the served index
    do formula defaults serve — with a ``RuntimeWarning`` on an
    unpinned load (a refit outran the re-tune) and silently under a
    pin (pre-tune history is a normal place for a pin to land); an
    absent tuning table is the normal pre-tune state and attaches
    nothing, silently."""
    import dataclasses

    v, params = resolve_artifact(codes_dir, "ann_codes ", version=codes_version)
    idx = load_ann_index(
        spark, index_dir, version=int(params["index_version"])
    )
    codes = load_ann_codes(
        spark, codes_dir, idx, version=v, corpus_version=corpus_version
    )
    if tuning_dir is not None:
        tuned = load_ann_tuning(
            tuning_dir,
            index_version=idx.version,
            search_history=True,
            warn_stale=codes_version is None,
        )
        if tuned is not None:
            idx = dataclasses.replace(idx, tuning=tuned)
    return idx, codes


def tuning_query_sample(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_queries: int = 32,
) -> DataFrame:
    """The tuner's deterministic held-out query sample, exposed as
    the ONE copy both :func:`tune_ann_serving` and any caller that
    wants to re-measure recall AT the recorded operating point use —
    a grade that replays serving on a different sample would compare
    against an SLO measured elsewhere.  Strided (``id % 13 == 5``)
    then HASH-SPREAD: ordered by a Knuth multiplicative hash of the
    id (reduced mod 2^31 before the multiply — the raw product
    overflows int64 above id ~3.5e9 and throws under ANSI), ties by
    id.  Hash-spread, not lowest-first, because the coarse centroids
    are the n_coarse lowest-id vectors (``_centroids``) and at
    deployment sizing any lowest-k-of-a-stride sample falls entirely
    inside that seed region — the round-11 soak measured the tuner
    reporting nprobe=1 / sample recall 0.97 while real serving
    recall was 0.11 at n_coarse=1600."""
    return (
        corpus.select(id_col, vec_col)
        .filter((F.col(id_col) % 13) == 5)
        .orderBy(
            F.pmod(
                F.pmod(F.col(id_col), F.lit(1 << 31))
                * F.lit(2654435761),
                F.lit(1 << 31),
            ),
            F.col(id_col),
        )
        .limit(sample_queries)
    )


def tune_ann_serving(
    corpus: DataFrame,
    index: AnnIndex,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    target_recall: float = 0.9,
    sample_queries: int = 32,
    rerank: int | None = None,
    max_rerank: int | None = 4096,
    codes: DataFrame | None = None,
    tuning_dir: str | None = None,
    codes_version: int | None = None,
) -> dict:
    """Measure, don't guess, the serving knob: the SMALLEST ``nprobe``
    whose measured recall@k clears ``target_recall`` on a bounded,
    deterministic query sample — the tuning loop every FAISS
    deployment runs by hand (sweep nprobe, probe recall on held-out
    queries, pick the knee), packaged as an operator so "what nprobe
    do I serve at?" is an artifact of measurement, not folklore.
    ``_auto_nprobe``'s closed-form rule sizes the candidate PATH;
    this resolves the knob against the live corpus + index pair and
    the caller's actual recall SLO.

    Procedure (all deterministic): exact truth for a STRIDED,
    HASH-SPREAD id sample (``id % 13 == 5`` ordered by a Knuth
    multiplicative hash of the id) in ONE brute-force pass, then
    a doubling sweep (1, 2, 4, … capped at ``n_coarse``) to bracket
    the target, then binary search inside the bracket — the returned
    ``nprobe`` is exactly minimal: it meets the target and
    ``nprobe-1`` (when ≥1 exists) was measured or bracketed failing.
    Every step serves through the REAL path (``ivfpq_knn`` with this
    index, and ``codes=`` at rest when given), so the tuned number is
    valid for production serving, not a proxy.

    Cost: one exact pass over the corpus (sample × corpus scored,
    one TakeOrdered) + O(log n_coarse) served queries of
    ``sample_queries`` rows each — bounded, and run offline per
    (index, corpus) version, never per query.

    Returns ``{"nprobe", "recall", "met", "rerank", "evaluated",
    "escalations"}``.  When a full-width sweep fails, the tuner now
    ESCALATES the rerank axis itself — doubling the shortlist width
    (bounded by ``max_rerank``; ``None`` disables escalation, and an
    EXPLICIT ``rerank=`` pins the caller's budget so escalation never
    overrides it) and
    re-running the nprobe search — because a failed sweep means the
    exact-re-rank budget, not the probe width, is the binding
    constraint (measured at the 100× decade: exhaustive probing
    topped out at 0.62 under rerank=256 while rerank=1024 met 0.8 at
    nprobe=329 — exactly _auto_nprobe's closed-form 328).
    ``met=False`` now means even ``max_rerank`` cannot clear the
    target (refit or re-geometry).  ``evaluated`` lists every
    (nprobe, recall) of the FINAL width; ``escalations`` the
    (rerank, full-probe recall) of each abandoned width.

    ``tuning_dir=`` PERSISTS the accepted point as artifact state
    (:func:`save_ann_tuning`, paired to ``index.version`` and the
    optional ``codes_version`` provenance pin) so
    ``load_ann_serving(tuning_dir=...)`` serves it from then on —
    the one-call tune-and-record form a deployment runs per (index,
    corpus) version.  Recorded even when ``met=False``: the failed
    point is still the best measured configuration, and the ``met``
    flag rides the artifact so a monitoring loop can alarm on it.
    The new tuning version is returned as ``tuning_version``.  The
    publish is CAS-PINNED to the tuning table's version as of the
    sweep's start (round-13 advisor item — the veto discipline every
    other artifact write here uses): two tuners racing the same
    table (a streaming refit re-tune vs an operator's manual tune)
    surface :class:`~fortymhz_spark.sources.snapshots
    .ConcurrentWriteError` to the loser instead of interleaving
    last-writer-wins — the loser re-resolves (its measurements may
    now describe superseded geometry) rather than silently
    publishing over the winner."""
    from fortymhz_spark.operators.similarity import (
        _auto_rerank,
        brute_force_knn,
        ivfpq_knn,
    )

    if index.kind != "ivfpq":
        raise ValueError(
            f"tune_ann_serving needs an 'ivfpq' index, got {index.kind!r}"
        )
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    # The deterministic hash-spread sample — one shared copy
    # (:func:`tuning_query_sample`, which also documents the
    # round-11 centroid-seed-region bug and the round-12 ANSI
    # overflow fix); for ids < 2^31 the reduced hash is
    # bit-identical to the pre-fix one, so existing graded samples
    # don't move.
    sample = tuning_query_sample(
        corpus, id_col=id_col, vec_col=vec_col,
        sample_queries=sample_queries,
    ).localCheckpoint()
    truth: dict[int, set[int]] = {}
    for r in brute_force_knn(
        corpus, sample, id_col=id_col, vec_col=vec_col, k=k
    ).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(t) for t in truth.values())
    if total == 0:
        raise ValueError("empty corpus/sample: nothing to tune against")
    may_escalate = rerank is None and max_rerank is not None
    rerank = _auto_rerank(corpus, rerank)
    # CAS base for the publish (round-13 advisor item): resolve the
    # tuning table's current version BEFORE the sweep — 0 for a table
    # that does not exist yet (a fresh manifest's current), so even
    # two first-ever tuners racing table creation get the veto.  A
    # competing tune landing mid-sweep then surfaces
    # ConcurrentWriteError at publish instead of last-writer-wins.
    tuning_base: int | None = None
    if tuning_dir is not None:
        from fortymhz_spark.sources.snapshots import _load_manifest

        tuning_base = int(_load_manifest(tuning_dir).get("current", 0))

    def recall_at(p: int, rr: int) -> float:
        got: dict[int, set[int]] = {}
        rows = ivfpq_knn(
            corpus, sample, id_col=id_col, vec_col=vec_col, k=k,
            nprobe=p, rerank=rr, index=index, codes=codes,
        ).collect()
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return (
            sum(len(got.get(q, set()) & t) for q, t in truth.items()) / total
        )

    def sweep(rr: int):
        """Minimal-nprobe search at one rerank width: doubling sweep
        to bracket the target, then binary search.  Returns the
        result dict (met True/False) for this width."""
        evaluated: list[tuple[int, float]] = []
        lo, hi, hi_recall = 0, None, 0.0
        p = 1
        while True:
            r = recall_at(p, rr)
            evaluated.append((p, r))
            if r >= target_recall:
                hi, hi_recall = p, r
                break
            lo = p
            if p >= index.n_coarse:
                return {
                    "nprobe": index.n_coarse,
                    "recall": r,
                    "met": False,
                    "rerank": rr,
                    "evaluated": evaluated,
                }
            p = min(p * 2, index.n_coarse)
        while hi - lo > 1:
            mid = (lo + hi) // 2
            r = recall_at(mid, rr)
            evaluated.append((mid, r))
            if r >= target_recall:
                hi, hi_recall = mid, r
            else:
                lo = mid
        return {
            "nprobe": hi,
            "recall": hi_recall,
            "met": True,
            "rerank": rr,
            "evaluated": evaluated,
        }

    # RERANK ESCALATION (round-11): when even probing every cell
    # cannot clear the SLO, the binding constraint is the exact-re-
    # rank shortlist, not the probe width — measured at the 100×
    # decade: nprobe=1600 of 1600 topped out at recall 0.62 under
    # rerank=256 (ADC false positives crowd the fixed shortlist — the
    # recall-vs-nprobe curve even turns DOWNWARD past its knee),
    # while doubling rerank to 1024 met the 0.8 SLO at nprobe=329,
    # which matched _auto_nprobe's closed form (328) exactly.  So on
    # a failed sweep the tuner doubles rerank (bounded by
    # ``max_rerank`` and the corpus size) and re-runs the nprobe
    # search; each abandoned attempt is recorded in ``escalations``
    # so the audit trail shows what the cheaper widths measured.
    escalations: list[tuple[int, float]] = []
    while True:
        res = sweep(rerank)
        if res["met"] or not may_escalate or rerank >= max_rerank:
            res["escalations"] = escalations
            if tuning_dir is not None:
                res["tuning_version"] = save_ann_tuning(
                    corpus.sparkSession,
                    tuning_dir,
                    res,
                    index_version=index.version,
                    codes_version=codes_version,
                    target_recall=target_recall,
                    k=k,
                    expected_current=tuning_base,
                )
            return res
        escalations.append((rerank, res["recall"]))
        rerank = min(rerank * 2, max_rerank)
