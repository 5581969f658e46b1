"""One manifest per persisted index: what it is, and whether it is
complete.

Every persisted index family — LSH bands, IVF lists, IVF-PQ codes,
MinHash bands — keeps one file beside its data, ``{path}/_index.json``::

    {"kind": "ivf", "nlist": 8, "sample_mod": 4, "verbs": ["write", "append"]}

``kind`` is ``lsh``, ``ivf``, ``ivfpq`` or ``minhash``; the other keys
are the build geometry readers replay; ``verbs`` lists the lifecycle
verbs applied since the last full write (a retrain is a full write).

The rule is the reference's Job 1 → Job 2 hand-off (read an output
only after its committer wrote ``_SUCCESS`` last), made uniform: every
mutating verb — write, append, retrain, compact — calls
:func:`retract` before it touches data and :func:`commit` as its last
step. A crashed or in-progress rewrite is therefore never read as
complete, and an index with no manifest is absent, never "default
geometry". :func:`load` is plain file I/O — no Spark job — and the
``_`` prefix keeps the file out of Spark's file index.
"""

from __future__ import annotations

import contextlib
import json
import os

MANIFEST = "_index.json"


def _file(path: str) -> str:
    return os.path.join(path, MANIFEST)


def publish_json(file: str, obj) -> None:
    """Write ``obj`` to ``file`` as JSON atomically: an fsynced temp
    file, then ``os.replace``. A reader sees the old file or the new
    one, never a torn write, and the new one survives a crash once
    this returns. Creates the parent directory."""
    os.makedirs(os.path.dirname(file), exist_ok=True)
    tmp = file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, file)


def commit(path: str, kind: str, verbs: list[str], **geometry) -> None:
    """Publish the manifest atomically (:func:`publish_json`) — the
    LAST step of every mutating verb."""
    publish_json(_file(path), {"kind": kind, **geometry, "verbs": list(verbs)})


def retract(path: str) -> None:
    """Withdraw the manifest — the FIRST step of every mutating verb:
    from here until the matching :func:`commit`, the index is absent."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(_file(path))


def load(path: str, kind: str) -> dict:
    """The committed manifest of the ``kind`` index at ``path``;
    ``ValueError`` naming the path when it is absent (never built, or a
    verb did not finish) or belongs to another family."""
    try:
        with open(_file(path)) as fh:
            man = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"no committed {kind} index at {path!r}: {MANIFEST} is missing"
            " (never built, or a write did not finish)"
        ) from None
    if man.get("kind") != kind:
        raise ValueError(
            f"index at {path!r} is a {man.get('kind')!r} index, not {kind!r}"
        )
    return man


def complete(path: str, kind: str, **expect) -> bool:
    """The skip-if-built gate: True iff a ``kind`` manifest is committed
    at ``path`` and every ``expect`` key matches it (e.g.
    ``verbs=["write", "append"]`` or ``band_bits=6``)."""
    try:
        man = load(path, kind)
    except ValueError:
        return False
    return all(man.get(k) == v for k, v in expect.items())


def record(path: str, man: dict, verb: str) -> None:
    """Re-commit ``man`` with ``verb`` appended to its verbs — the last
    step of an in-place verb (append, compact), which keeps the kind
    and geometry the full write chose."""
    commit(path, **{**man, "verbs": [*man["verbs"], verb]})
