"""Exactness gate for segmentation and page scoring.

``tests/golden/seg/digest.json`` pins, for 16 crawl-benchmark-shaped
corpus seeds, the sentences, n-grams, provider sentences and page scores
(as hashes), plus a list of Unicode stress strings with their literal
outputs. The current code must reproduce the file byte for byte;
``scripts/pin_seg_digest.py`` documents what it covers and how it was made.
"""

from __future__ import annotations

import json
import os
import sys

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
if SCRIPTS not in sys.path:
    sys.path.insert(0, SCRIPTS)

import pin_seg_digest  # noqa: E402


def _committed() -> str:
    with open(pin_seg_digest.DIGEST_PATH, encoding="ascii") as f:
        return f.read()


def test_stress_strings_match_literal_outputs():
    """Per-string comparison first, so a failure names the input."""
    pinned = {e["text"]: e for e in json.loads(_committed())["stress"]}
    for text in pin_seg_digest.STRESS:
        assert pin_seg_digest._stress_entry(text) == pinned[text], repr(text)


def test_digest_reproduced_byte_for_byte():
    assert pin_seg_digest.build_digest() == _committed()
