"""A document stream with planted duplicates, for incremental curation.

Files written to ``out_dir``:

- ``reference/part-00000.parquet``: the frozen reference corpus
  (doc_id int64, text string)
- ``stream/batch_NNN.parquet``: one file per micro-batch, same schema
- ``truth.parquet``: doc_id, kind, src_id for every streamed document
- ``meta.json``: sizes and the text byte counts

Kinds of streamed documents (the generator keeps the truth):

- ``fresh``: new text
- ``exact_ref`` / ``exact_prev``: a verbatim copy of a reference document /
  of a fresh document from an earlier batch
- ``near_ref`` / ``near_prev``: the same, with 1-4% of its words
  substituted, deleted or inserted

Text is drawn from a Zipf-weighted synthetic vocabulary, so fresh
documents share common words but almost no word 3-grams.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KIND_P = {"fresh": 0.60, "exact_ref": 0.08, "exact_prev": 0.08,
          "near_ref": 0.12, "near_prev": 0.12}
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
             "do", "fe", "gu", "hi", "ja", "bo", "ce", "wu", "xi", "yo"]


def _vocab(rng, size):
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(SYLLABLES[int(i)] for i in rng.integers(0, len(SYLLABLES), k)))
    words = np.array(sorted(words))
    rank = np.arange(1, size + 1)
    p = 1.0 / rank ** 1.05
    return words[rng.permutation(size)], p / p.sum()


def _edit(rng, words, vocab, p):
    out = list(words)
    n_edits = max(1, int(round(len(out) * rng.uniform(0.01, 0.04))))
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(out)))
        if op == 0:
            out[i] = vocab[rng.choice(len(vocab), p=p)]
        elif op == 1 and len(out) > 10:
            del out[i]
        else:
            out.insert(i, vocab[rng.choice(len(vocab), p=p)])
    return out


def _write(path, ids, texts):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   path, compression="snappy")


def generate(out_dir, seed, reference=2000, batches=12, batch_size=100,
             vocab_size=4000):
    rng = np.random.default_rng([seed, 3])
    os.makedirs(os.path.join(out_dir, "reference"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "stream"), exist_ok=True)
    vocab, p = _vocab(rng, vocab_size)

    def fresh_words():
        return list(vocab[rng.choice(vocab_size, size=int(rng.integers(60, 160)), p=p)])

    ref_words = [fresh_words() for _ in range(reference)]
    ref_texts = [" ".join(w) for w in ref_words]
    _write(os.path.join(out_dir, "reference", "part-00000.parquet"),
           list(range(reference)), ref_texts)

    kinds, probs = list(KIND_P), list(KIND_P.values())
    prev_fresh = []  # (doc_id, words) admitted-as-fresh in earlier batches
    truth_id, truth_kind, truth_src = [], [], []
    next_id = reference
    stream_bytes = 0
    for b in range(batches):
        ids, texts, batch_fresh = [], [], []
        for _ in range(batch_size):
            kind = kinds[int(rng.choice(len(kinds), p=probs))]
            if kind.endswith("_prev") and not prev_fresh:
                kind = "fresh"
            src = -1
            if kind == "fresh":
                words = fresh_words()
                batch_fresh.append((next_id, words))
            else:
                if kind.endswith("_ref"):
                    src = int(rng.integers(0, reference))
                    base = ref_words[src]
                else:
                    src, base = prev_fresh[int(rng.integers(0, len(prev_fresh)))]
                words = base if kind.startswith("exact") else _edit(rng, base, vocab, p)
            text = " ".join(words)
            ids.append(next_id)
            texts.append(text)
            truth_id.append(next_id)
            truth_kind.append(kind)
            truth_src.append(src)
            stream_bytes += len(text.encode("utf-8"))
            next_id += 1
        _write(os.path.join(out_dir, "stream", f"batch_{b:03d}.parquet"), ids, texts)
        prev_fresh.extend(batch_fresh)

    pq.write_table(pa.table({"doc_id": pa.array(truth_id, pa.int64()),
                             "kind": pa.array(truth_kind, pa.string()),
                             "src_id": pa.array(truth_src, pa.int64())}),
                   os.path.join(out_dir, "truth.parquet"), compression="snappy")
    meta = {"reference": reference, "batches": batches, "batch_size": batch_size,
            "vocab_size": vocab_size,
            "reference_text_bytes": sum(len(t.encode("utf-8")) for t in ref_texts),
            "stream_text_bytes": stream_bytes,
            "kinds": {k: truth_kind.count(k) for k in kinds}}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta
