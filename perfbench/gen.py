"""Seeded, stdlib-only input generators for the benchmark.

Two corpora, both a pure function of (seed, size):

* a plaintext SQLite chat store shaped like the reference's
  (`chat_message(sid, _mid, c, t, _createAt, u)`), written as a series
  of versions: version 0 is the cold-start store and version i adds the
  i-th increment of new messages, the way the live chat client appends;
* a `documents` corpus (doc_id, text, lang, source, n_chars) for the
  curation pipeline, with planted exact duplicates, near-duplicates,
  looping boilerplate and an eval-contaminated slice.

Every generator also returns the facts the output checks need (message
counts, which conversation a message belongs to, planted pairs).
"""
import json
import os
import random
import sqlite3

SYLLABLES = ("ka lo mi ne ru sa te vo zu pe li da go hu ji ko ma ni "
             "po ra si to wa ye be ce fi gu ha").split()


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLLABLES)
                          for _ in range(rng.randint(2, 3))))
    return sorted(words)


# ---- chat store ---------------------------------------------------------

N_TOPICS = 32
N_CONVS = 200
N_SENDERS = 400
BASE_TS = 1756000000.0


class ChatModel:
    """Topical chat text: each conversation talks about one topic, a
    message mixes that topic's words with common words, so near
    messages cluster and an IVF probe has structure to find."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        vocab = _vocab(self.rng, 3000)
        self.common = vocab[:300]
        rest = vocab[300:]
        self.topics = [rest[i:N_TOPICS * 10:N_TOPICS] for i in range(N_TOPICS)]
        self.conv_topic = [self.rng.randrange(N_TOPICS)
                           for _ in range(N_CONVS)]
        self.conv_members = [self.rng.sample(range(N_SENDERS), 5)
                             for _ in range(N_CONVS)]

    def message(self, mid):
        rng = self.rng
        conv = rng.randrange(N_CONVS)
        topic = self.topics[self.conv_topic[conv]]
        words = [rng.choice(topic) if rng.random() < 0.9
                 else rng.choice(self.common)
                 for _ in range(rng.randint(4, 24))]
        text = " ".join(words)
        roll = rng.random()
        if roll < 0.05:  # a multi-part message: a JSON list of text parts
            cut = len(words) // 2 or 1
            c, t = json.dumps([{"text": " ".join(words[:cut])},
                               {"text": " ".join(words[cut:])}]), 1
        elif roll < 0.08:  # a non-text message: content kept as-is
            c, t = "[file] " + text, 2
        else:
            c, t = json.dumps({"text": text}), 1
        sid = 5_000_000_000 + conv
        user = self.conv_members[conv][rng.randrange(5)]
        ts = BASE_TS + mid * 1.5
        return (sid, mid, c, t, ts, user)


def chat_versions(out_dir, base_seed, seed, messages, increments, inc_frac):
    """Writes `v<i>/main_1756000000.sqlite` for i in 0..increments and
    returns {"counts": [messages in version i], "sid": {mid: sid}}.
    Version 0 (the base store) depends on `base_seed` only; the
    increments on top of it are drawn from `seed`, in the same
    conversations. Message ids are dense from 1: message i's rowid is i."""
    model = ChatModel(base_seed)
    os.makedirs(out_dir, exist_ok=True)
    per_inc = max(1, int(messages * inc_frac))
    counts, rows = [], []
    conn = sqlite3.connect(":memory:")
    conn.execute("PRAGMA page_size=4096")
    conn.execute("""CREATE TABLE chat_message (
        sid INTEGER, _mid INTEGER PRIMARY KEY, c TEXT, t INTEGER,
        _createAt REAL, u INTEGER)""")
    total = 0
    for v in range(increments + 1):
        n = messages if v == 0 else per_inc
        if v == 1:
            model.rng = random.Random(seed)
        batch = [model.message(total + i + 1) for i in range(n)]
        total += n
        rows.extend(batch)
        conn.executemany("INSERT INTO chat_message VALUES (?,?,?,?,?,?)",
                         batch)
        conn.commit()
        vdir = os.path.join(out_dir, f"v{v}")
        os.makedirs(vdir, exist_ok=True)
        path = os.path.join(vdir, "main_1756000000.sqlite")
        disk = sqlite3.connect(path)
        disk.execute("PRAGMA journal_mode=DELETE")
        conn.backup(disk)
        disk.close()
        counts.append(total)
    conn.close()
    return {"counts": counts, "sid": {r[1]: r[0] for r in rows}}


def query_texts(base_seed, seed, n):
    """Free-text queries in the language of the chat store made from
    `base_seed`, drawn from `seed`."""
    model = ChatModel(base_seed)
    rng = random.Random(seed * 7 + 1)
    out = []
    for _ in range(n):
        topic = model.topics[rng.randrange(N_TOPICS)]
        out.append(" ".join(rng.choice(topic) if rng.random() < 0.85
                            else rng.choice(model.common)
                            for _ in range(rng.randint(3, 8))))
    return out


# ---- curation corpus ----------------------------------------------------

N_SOURCES = 20
STOPS = ["the", "a", "of", "and", "to"]


def documents(path, seed, n):
    """Writes the corpus as JSON lines and returns planted facts:
    {"near_pairs": [(a, b)] of planted near-duplicates (one token in
    forty edited, copied from a doc of 20+ words),
     "exact": number of exact duplicates}. Sources `src<k>` with
    k % 5 == 0 are the eval split the decontamination gate compares
    against; ~1% of train docs copy a 20-word span from an eval doc."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 1500)
    docs = []
    long_docs = []  # near-duplicates copy docs of 20+ words
    near_pairs = []
    exact = 0
    for i in range(n):
        source = f"src{rng.randrange(N_SOURCES)}"
        roll = rng.random()
        if docs and roll < 0.10:  # exact duplicate (case/space variant)
            text = rng.choice(docs)[1]
            text = text.upper() if rng.random() < 0.3 else text + "  "
            exact += 1
        elif long_docs and roll < 0.20:  # near-duplicate: a few tokens edited
            j = long_docs[rng.randrange(len(long_docs))]
            ws = docs[j][1].split()
            for _ in range(max(1, len(ws) // 40)):
                ws[rng.randrange(len(ws))] = rng.choice(vocab)
            text = " ".join(ws)
            near_pairs.append((docs[j][0], i))
        elif roll < 0.23:  # looping boilerplate the repetition gate flags
            loop = [rng.choice(vocab) for _ in range(4)]
            text = " ".join(loop * rng.randint(6, 12))
        else:
            k = rng.randint(10, 90)
            ws = []
            for _ in range(k):
                r = rng.random()
                ws.append(rng.choice(STOPS) if r < 0.15
                          else rng.choice(vocab))
            if rng.random() < 0.3:
                ws[-1] += rng.choice(".,!?;:")
            text = " ".join(ws)
            evals = [d for d in docs[-200:] if int(d[2][3:]) % 5 == 0]
            if int(source[3:]) % 5 and evals and rng.random() < 0.01:
                span = evals[rng.randrange(len(evals))][1].split()[:20]
                if len(span) >= 13:
                    text = text + " " + " ".join(span)
        if len(text.split()) >= 20:
            long_docs.append(i)
        docs.append((i, text, source))
    with open(path, "w") as f:
        for doc_id, text, source in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": source,
                                "n_chars": len(text)}) + "\n")
    return {"near_pairs": near_pairs, "exact": exact}
