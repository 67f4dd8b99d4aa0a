"""Seeded input generators for the benchmark, kept apart from the system.

Everything the program reads is made here from ``--seed``; the program sees
only the files. The expected outputs that the checks compare against are
computed here too, from the same seed, by plain Python.

* ``flow_polls``  - GetFile polls of small text logs and JSON event files,
  plus the per-relationship counts and content digests a correct sweep
  writes.
* ``corpus``      - a documents table shaped like the repo's sf0.1
  ``documents`` (same 31-word vocabulary, language and source mix, a few
  planted duplicates), replicated K times; replicas are made disjoint by a
  seeded consonant rotation.
* ``tail_plan`` / ``append`` - the multi-line ``<id>``-headed log messages
  of the tail workload and the single-thread appender process that writes
  them at a fixed line rate, stamping every append.
"""
import hashlib
import json
import os
import random
import re
import sys
import time

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "en", "en", "en", "zh", "de", "fr", "es", "de", "fr", "es",
         "zh")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LEVELS = ("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")
CONSONANTS = "bcdfghjklmnpqrstvwxz"

# flow_sweep: the ReplaceText rule the flow applies to every log line, in
# Python spelling (the flow's Java spelling is doc=([0-9]+) -> doc#$1)
REPLACE_SEARCH = re.compile(r"doc=([0-9]+)")
REPLACE_WITH = r"doc#\1"


def md5_hex(text):
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def digest(md5s):
    """Order-independent digest of a multiset of content md5s."""
    return hashlib.sha256("\n".join(sorted(md5s)).encode()).hexdigest()


def words(rng, lo, hi):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


# ------------------------------------------------------------ flow_sweep

LOG_FILES_PER_POLL = 8
EVENT_FILES_PER_POLL = 8


def flow_poll(seed, op):
    """Files of one poll -> ({name: text}, expected terminal outputs)."""
    rng = random.Random(f"{seed}:poll:{op}")
    files, log_md5s, ev_md5s = {}, [], []
    for i in range(LOG_FILES_PER_POLL):
        lines = []
        for _ in range(rng.randint(6, 18)):
            doc = rng.randrange(5000)
            lines.append(
                f"2024-01-{rng.randint(1, 30):02d}T{rng.randint(0, 23):02d}:"
                f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z "
                f"{rng.choice(LEVELS)} [src{doc % 10}] doc={doc} "
                + words(rng, 4, 14))
        files[f"app{op}-{i}.log"] = "\n".join(lines) + "\n"
        # SplitText (one line per fragment, trailing newline removed) ->
        # ReplaceText per line -> MergeContent Defragment with "\n"
        log_md5s.append(md5_hex("\n".join(
            REPLACE_SEARCH.sub(REPLACE_WITH, l) for l in lines)))
    for i in range(EVENT_FILES_PER_POLL):
        recs, csv = [], []
        for _ in range(rng.randint(6, 18)):
            eid = rng.randrange(100000)
            ts = (f"2024-01-{rng.randint(1, 30):02d}T{rng.randint(0, 23):02d}:"
                  f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")
            uid = rng.randrange(1500)
            et = rng.choice(EVENT_TYPES)
            value = rng.randrange(60000) / 100
            recs.append(json.dumps({"event_id": eid, "ts": ts,
                                    "user_id": uid, "event_type": et,
                                    "value": value}))
            # ConvertRecord JSON -> CSV: schema order, values as Spark
            # renders them (Java Double.toString agrees with repr here)
            csv.append(f"{eid},{ts},{uid},{et},{value!r}")
        files[f"ev{op}-{i}.json"] = "\n".join(recs) + "\n"
        ev_md5s.append(md5_hex("\n".join(csv)))
    expected = {
        "putLogs": {"success": len(log_md5s), "digest": digest(log_md5s)},
        "putEvents": {"success": len(ev_md5s), "digest": digest(ev_md5s)},
    }
    return files, expected


def flow_polls(seed, n_warm, n_measure, root):
    """Write warm-up polls w0.. and measured polls m0.. under root/<key>/;
    return their expected outputs by key and an input checksum."""
    expected, h, size = {}, hashlib.sha256(), 0
    keys = [f"w{k}" for k in range(n_warm)] + \
        [f"m{k}" for k in range(n_measure)]
    for op, key in enumerate(keys):
        files, exp = flow_poll(seed, op)
        d = os.path.join(root, key)
        os.makedirs(d)
        for name, text in files.items():
            with open(os.path.join(d, name), "w") as f:
                f.write(text)
            h.update(name.encode() + text.encode())
            size += len(text)
        expected[key] = exp
    return expected, {"files": len(keys) * (LOG_FILES_PER_POLL +
                                            EVENT_FILES_PER_POLL),
                      "bytes": size, "sha256": h.hexdigest()}


# ----------------------------------------------------------- curate_dclm

BASE_DOCS = 5000


def corpus(seed, replicas, path):
    """documents parquet: `replicas` disjoint copies of a seeded base."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array(VOCAB)
    n_words = rng.integers(10, 101, BASE_DOCS)
    base = [" ".join(vocab[rng.integers(0, len(VOCAB), n)]) for n in n_words]
    # planted duplicates: 1% of documents repeat another's text (the
    # fixture corpus has the same kind of exact repeats)
    for d in rng.choice(BASE_DOCS, BASE_DOCS // 100, replace=False):
        base[d] = base[int(rng.integers(0, BASE_DOCS))]
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), BASE_DOCS)]
    shifts = rng.permutation(len(CONSONANTS))[:replicas]
    ids, texts, lang_col, sources = [], [], [], []
    for r, shift in enumerate(shifts):
        rot = CONSONANTS[shift:] + CONSONANTS[:shift]
        table = str.maketrans(CONSONANTS, rot)
        for d in range(BASE_DOCS):
            doc_id = r * BASE_DOCS + d
            ids.append(doc_id)
            texts.append(base[d].translate(table))
            lang_col.append(str(langs[d]))
            sources.append(f"src{doc_id % 10}")
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang_col, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, path)
    with open(path, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()
    return {"docs": len(ids), "bytes": os.path.getsize(path), "sha256": sha}


# ------------------------------------------------------------ tail_stream

TAIL_FILES = 4
DRAIN_WARM_ROUNDS = 4
DRAIN_ROUNDS = 3
DRAIN_LINES_PER_FILE = 2000


def messages(rng, prefix, n_lines):
    """Multi-line messages totalling >= n_lines lines: (id, [lines])."""
    out, total, i = [], 0, 0
    while total < n_lines:
        mid = f"{prefix}-{i:06d}"
        lines = [f"<{mid}> {rng.choice(LEVELS)} " + words(rng, 3, 9)]
        lines += ["  " + words(rng, 2, 8) for _ in range(rng.randint(2, 10))]
        out.append((mid, lines))
        total += len(lines)
        i += 1
    return out


def tail_plan(seed, rate, max_seconds):
    """Messages per live file, enough for max_seconds at `rate` lines/s."""
    rng = random.Random(f"{seed}:tail")
    per_file = int(rate * max_seconds / TAIL_FILES) + 100
    return [messages(rng, f"f{k}", per_file) for k in range(TAIL_FILES)]


def drain_files(seed, root):
    """Backlog files for the drain phase: warm-up rounds w<r> and measured
    rounds m<r>, one directory each; every file ends with a sentinel header
    so every backlog message is complete. Returns {msg id: text}."""
    rng = random.Random(f"{seed}:drain")
    expected = {}
    rounds = [f"w{r}" for r in range(DRAIN_WARM_ROUNDS)] + \
        [f"m{r}" for r in range(DRAIN_ROUNDS)]
    for name in rounds:
        d = os.path.join(root, name)
        os.makedirs(d)
        for k in range(TAIL_FILES):
            msgs = messages(rng, f"{name}x{k}", DRAIN_LINES_PER_FILE)
            with open(os.path.join(d, f"drain{name}-{k}.log"), "w") as f:
                for mid, lines in msgs:
                    f.write("\n".join(lines) + "\n")
                    expected[mid] = "\n".join(lines) + "\n"
                f.write(f"<{name}x{k}-end> sentinel\n")
    return expected


def append(seed, rate, max_seconds, tail_dir, stop_file, stamps_path):
    """Open-loop appender: line i of the interleaved plan is due at
    t0 + i/rate; write it, flush, and stamp (due, actual). Runs until
    stop_file appears or the plan is exhausted."""
    plan = tail_plan(seed, rate, max_seconds)
    rng = random.Random(f"{seed}:tail-order")
    handles = [open(os.path.join(tail_dir, f"app-{k}.log"), "a")
               for k in range(TAIL_FILES)]
    cursors = [(0, 0)] * TAIL_FILES  # (message index, line index)
    t0 = time.time()
    stamps = []
    i = 0
    try:
        while True:
            if i % 50 == 0 and os.path.exists(stop_file):
                break
            k = rng.randrange(TAIL_FILES)
            m, l = cursors[k]
            if m >= len(plan[k]):
                break
            due = t0 + i / rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            handles[k].write(plan[k][m][1][l] + "\n")
            handles[k].flush()
            stamps.append((k, m, l, due, time.time()))
            cursors[k] = (m, l + 1) if l + 1 < len(plan[k][m][1]) \
                else (m + 1, 0)
            i += 1
    finally:
        for h in handles:
            h.close()
        with open(stamps_path, "w") as f:
            json.dump(stamps, f)


if __name__ == "__main__":
    # python3 gen.py append <seed> <rate> <max_seconds> <tail_dir>
    #                       <stop_file> <stamps_path>
    if len(sys.argv) != 8 or sys.argv[1] != "append":
        sys.exit("usage: gen.py append SEED RATE MAX_SECONDS TAIL_DIR "
                 "STOP_FILE STAMPS")
    append(int(sys.argv[2]), float(sys.argv[3]), float(sys.argv[4]),
           sys.argv[5], sys.argv[6], sys.argv[7])
