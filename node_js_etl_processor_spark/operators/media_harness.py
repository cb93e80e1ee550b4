"""Shared chained-mapInPandas media harness: every synth→decode→features
family — WAV, G.711, IMA-ADPCM, mixed-audio probe, netpbm, TIFF, GIF frames,
MJPEG-AVI frames — runs the same scaffold:

1. a SYNTH kernel: Arrow-batched ``mapInPandas`` over ``doc_id``
   emitting MEDIA_SCHEMA rows whose payloads come from the REAL
   encoders, with deterministic corrupt / foreign-format / recognized-
   but-refused lanes mixed in (the per-family ``make_rows``), and
2. a FEATURE kernel: Arrow-batched ``mapInPandas`` over
   (media_id, payload) with per-row ``DecodeUnavailable`` isolation —
   a bad payload is one ok=false row, never an executor error — and
   worker-side row explosion for frame-sampling families (blobs are
   never exploded Spark-side).

This module is that scaffold ONCE; the families supply only their
encode/decode closures. Both kernels are zero-shuffle by construction:
each task Arrow-streams its split through the Python worker, so the
chained pass q_X = features(synth(documents)) stays embarrassingly
parallel at any scale.

Contract details the families rely on:
- ``make_rows(doc_ids) -> (mimes, payloads)`` receives the WHOLE Arrow
  batch's ids so a family can run cross-row lockstep encodes (the
  ADPCM batch pass); per-row families lift with ``per_doc``.
- ``extract(payload) -> list[dict]`` returns one dict per OUTPUT row
  (frame families return one per sampled frame); a dict may carry
  ``"ok"`` (default "true") and omitted feature keys become NULL —
  which is how the audio probe emits its recognized-but-refused rows
  (ok=false WITH the container named). Raising ``DecodeUnavailable``
  is the plain rejection: one ok=false all-NULL row.
- ``extract_batch(payloads) -> list[list[dict] | DecodeUnavailable]``
  is the cross-payload batch-decode form (ADPCM decode): one entry per
  payload, error entries preserved positionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def per_doc(make_row):
    """Lift a per-doc ``make_row(doc_id) -> (mime, payload)`` into the
    whole-batch ``make_rows`` contract."""

    def make_rows(doc_ids):
        mimes, payloads = [], []
        for did in doc_ids:
            mime, payload = make_row(did)
            mimes.append(mime)
            payloads.append(payload)
        return mimes, payloads

    return make_rows


def synth_media(documents: DataFrame, make_rows, modality: str) -> DataFrame:
    """The shared synth kernel: one Arrow pass over ``doc_id``, rows in
    MEDIA_SCHEMA (sha256/n_bytes deliberately NULL — synthesized media
    has no upstream manifest)."""
    import pandas as pd

    from ..catalog import spread
    from .multimodal import MEDIA_SCHEMA

    def run(batches):
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            mimes, payloads = make_rows(ids)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "modality": [modality] * len(ids),
                    "mime": list(mimes),
                    "payload": list(payloads),
                    "sha256": [None] * len(ids),
                    "n_bytes": [None] * len(ids),
                }
            )

    return spread(documents).select("doc_id").mapInPandas(run, MEDIA_SCHEMA)


def media_features(
    media: DataFrame, schema, extract=None, extract_batch=None
) -> DataFrame:
    """The shared feature kernel: one Arrow pass over (media_id,
    payload) with per-row DecodeUnavailable isolation and worker-side
    row explosion. ``schema`` must lead with (media_id, ok); every
    other field is a feature column fillable from the extract dicts
    (missing keys → NULL)."""
    import pandas as pd

    from ..catalog import spread
    from .multimodal import DecodeUnavailable

    cols = [f.name for f in schema.fields]
    feat = [c for c in cols if c not in ("media_id", "ok")]

    def run(batches):
        for pdf in batches:
            payloads = [
                bytes(p) if p is not None else None for p in pdf["payload"]
            ]
            if extract_batch is not None:
                results = extract_batch(payloads)
            else:
                results = []
                for p in payloads:
                    try:
                        results.append(extract(p))
                    except DecodeUnavailable as exc:
                        results.append(exc)
            out = {k: [] for k in cols}
            for mid, res in zip(pdf["media_id"], results):
                rows = (
                    [{"ok": "false"}]
                    if isinstance(res, DecodeUnavailable)
                    else res
                )
                for row in rows:
                    out["media_id"].append(mid)
                    out["ok"].append(row.get("ok", "true"))
                    for c in feat:
                        out[c].append(row.get(c))
            yield pd.DataFrame(out)

    return spread(media).mapInPandas(run, schema)
