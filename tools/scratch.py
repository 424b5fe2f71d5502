"""Pinned scratch root for generated gate datasets (round-7 verdict
ask 5).

These instruments used to write under /tmp, and a mid-session /tmp
wipe destroyed a bench epoch AND the 10x soak datasets in one stroke
(round 7). Everything generated now lands under ONE pinned, gitignored
directory, ``<repo>/.scratch``, which shares a volume with the repo
the instruments serve, not with whatever cleans /tmp.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scratch_dir() -> str:
    root = os.path.join(REPO, ".scratch")
    os.makedirs(root, exist_ok=True)
    return root


def scratch_path(name: str) -> str:
    """Absolute path for a named dataset under the scratch root."""
    return os.path.join(scratch_dir(), name)
