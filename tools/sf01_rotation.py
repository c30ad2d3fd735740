"""The rolling sf0.1 oracle-parity rotation (VERDICT r12 #5): pick the
K registry queries whose sf0.1 certification is STALEST (never-certified
first, then oldest certification round, ties by name), exactly the
driver's sf0.01 staleness policy — so every query re-proves itself at
sf0.1 within ~ceil(registry/K) rounds.

History lives in LOCALCERT-style artifacts ``SF01CERT_r{N}.json`` at the
repo root, written by the @slow rotation test in
``tests/test_oracle_parity_sf01.py`` (per-query rows + ``__meta__``).
The 16 bench-headline queries re-certify EVERY round via their own
fixed @slow test and are therefore treated as freshly certified when
selecting — the rotation budget goes to everything else first."""

from __future__ import annotations

import glob
import json
import os
import re

#: re-certified every round by test_headline_parity_sf01
from tools.harness import HEADLINE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def history(root: str = REPO) -> dict:
    """query -> newest round with a GREEN sf0.1 certification."""
    hist: dict = {}
    for path in glob.glob(os.path.join(root, "SF01CERT_r*.json")):
        m = re.search(r"SF01CERT_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for name, row in data.items():
            if name == "__meta__" or not isinstance(row, dict):
                continue
            if row.get("ok") and rnd > hist.get(name, -1):
                hist[name] = rnd
    return hist


#: Driver round in which the rotation convention started (the first
#: rotation artifact was SF01CERT_r13) — the LAST-RESORT floor, used
#: only when neither the working tree nor git history has any
#: ``SF01CERT_r*.json`` (a brand-new repo). Cadence: run ONE rotation
#: per driver round (ADVICE r14 #3 asked that a cleaned checkout derive
#: its floor from committed artifacts instead of restarting at 13 and
#: renumbering rounds that already ran).
FIRST_ROTATION_ROUND = 13


def _artifact_rounds(root: str) -> list:
    """Rotation rounds present as artifacts — working tree PLUS git
    history, so a cleaned checkout (artifacts deleted locally but
    committed) never renumbers an already-run round."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "SF01CERT_r*.json"))
        if (m := re.search(r"SF01CERT_r(\d+)\.json$", p))
    ]
    try:
        import subprocess

        out = subprocess.run(
            ["git", "-C", root, "log", "--all", "--name-only",
             "--format=", "--", "SF01CERT_r*.json"],
            capture_output=True, text=True, timeout=30,
        ).stdout
        rounds += [
            int(m.group(1))
            for line in out.splitlines()
            if (m := re.fullmatch(r"SF01CERT_r(\d+)\.json", line.strip()))
        ]
    except Exception:
        pass  # not a git checkout — working-tree artifacts only
    return rounds


def next_round(root: str = REPO) -> int:
    rounds = _artifact_rounds(root)
    return (max(rounds) + 1) if rounds else FIRST_ROTATION_ROUND


def rotation(k: int = 50, root: str = REPO) -> list:
    """The K stalest registered queries (headline set excluded — it
    re-certifies every round on its own)."""
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as entry_mod

    names = sorted(set(entry_mod.queries()) - set(HEADLINE))
    hist = history(root)
    names.sort(key=lambda q: (hist.get(q, -1), q))
    return names[: int(k)]
