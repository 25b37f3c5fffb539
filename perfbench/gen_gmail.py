"""Seeded Gmail raw-zone generator for the ``gmail_daily`` workload.

Writes JSON-array blobs of at most 300 messages each (the reference
job's page size) by cloning the package's fixture messages under fresh
ids, in a seeded mix of:

* plain, HTML, Indeed-sender, fuzzy-date and multipart templates;
* ids that are already in the processed-id ledger;
* exact copies of a message in a second blob (duplicate ids);
* one corrupt blob (truncated JSON), which the pipeline must skip whole.

Alongside the files it returns the ground truth the benchmark checks
the pipeline against: the expected stage-1 rows (the package's serial
reference implementation, per template, with the id remapped), the
ledger ids, and the realized shares of each property.
"""

from __future__ import annotations

import copy
import json
import os
import random
from dataclasses import dataclass

BLOB_MESSAGES = 300

#: Target share of each template class among generated messages; the
#: rest are plain-text messages.  Templates are indexes into
#: ``sources.fixtures.fixture_messages()``.
CLASS_SHARES = {"html": 0.25, "indeed": 0.10, "fuzzy": 0.10, "multipart": 0.10}
CLASS_TEMPLATES = {
    "plain": (0, 1, 2, 3, 7),
    "html": (5,),
    "indeed": (8, 9),
    "fuzzy": (6,),
    "multipart": (4,),
}
LEDGER_SHARE = 0.05
DUPLICATE_SHARE = 0.02


@dataclass
class RawZone:
    raw_dir: str
    raw_bytes: int
    n_messages: int  # parsable messages written, duplicates included
    ledger_ids: list[str]
    expected_rows: list[dict]  # stage-1 rows the pipeline must produce
    shares: dict[str, float]


def generate(raw_dir: str, n_messages: int, seed: int) -> RawZone:
    from gmail_etl_spark.plans.gmail_queries import expected_stage1_rows
    from gmail_etl_spark.sources.fixtures import fixture_messages

    rng = random.Random(seed)
    templates = fixture_messages()
    golden = expected_stage1_rows()
    classes = list(CLASS_SHARES) + ["plain"]
    weights = list(CLASS_SHARES.values()) + [1.0 - sum(CLASS_SHARES.values())]

    messages: list[tuple[dict, int]] = []  # (message, template index)
    for i in range(n_messages):
        cls = rng.choices(classes, weights)[0]
        t = rng.choice(CLASS_TEMPLATES[cls])
        msg = copy.deepcopy(templates[t])
        msg["id"] = f"s{seed}-{i:07d}"
        messages.append((msg, t))

    n_blobs = max(1, -(-n_messages // BLOB_MESSAGES))
    blobs: list[list[dict]] = [
        [m for m, _ in messages[b * BLOB_MESSAGES:(b + 1) * BLOB_MESSAGES]]
        for b in range(n_blobs)
    ]
    # exact re-deliveries of a message in another blob
    n_dups = int(n_messages * DUPLICATE_SHARE) if n_blobs > 1 else 0
    for j in rng.sample(range(n_messages), n_dups):
        home = j // BLOB_MESSAGES
        other = rng.choice([b for b in range(n_blobs) if b != home])
        blobs[other].append(copy.deepcopy(messages[j][0]))

    ledger_idx = sorted(rng.sample(range(n_messages), int(n_messages * LEDGER_SHARE)))
    ledger_ids = [messages[j][0]["id"] for j in ledger_idx]
    in_ledger = set(ledger_idx)

    os.makedirs(raw_dir, exist_ok=True)
    raw_bytes = 0
    for b, blob in enumerate(blobs):
        path = os.path.join(raw_dir, f"blob-{b:05d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps(blob))
        raw_bytes += os.path.getsize(path)
    # corrupt blob: a truncated array of messages whose ids appear nowhere
    # else, so none of them may reach stage 1
    corrupt = []
    for i in range(min(BLOB_MESSAGES, n_messages)):
        msg = copy.deepcopy(templates[rng.randrange(len(templates))])
        msg["id"] = f"c{seed}-{i:07d}"
        corrupt.append(msg)
    text = json.dumps(corrupt)
    path = os.path.join(raw_dir, f"blob-{n_blobs:05d}.json")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text[: len(text) // 2])
    raw_bytes += os.path.getsize(path)

    expected = []
    for j, (msg, t) in enumerate(messages):
        if j in in_ledger:
            continue
        row = dict(golden[t])
        row["id"] = msg["id"]
        expected.append(row)

    count = {c: 0 for c in classes}
    for _, t in messages:
        for c in classes:
            if t in CLASS_TEMPLATES[c]:
                count[c] += 1
    shares = {f"{c}_share": round(count[c] / n_messages, 4) for c in classes}
    shares["ledger_share"] = round(len(ledger_ids) / n_messages, 4)
    shares["duplicate_share"] = round(n_dups / n_messages, 4)
    shares["corrupt_blobs"] = 1
    return RawZone(
        raw_dir=raw_dir,
        raw_bytes=raw_bytes,
        n_messages=n_messages + n_dups,
        ledger_ids=ledger_ids,
        expected_rows=expected,
        shares=shares,
    )
