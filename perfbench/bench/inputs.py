"""Everything a seed decides: the corpus alphabet and request sequences."""
import random

# ScaleData's ten most frequent letters, rotated per replica. The seed
# picks their order: every order maps frequent letters onto frequent
# letters, so the quality gate and dedup see the same corpus shape
# whatever the seed (choosing among all 26 letters moved the stream
# survivor count between 370 and 740 of 1,000 documents).
LETTERS = "etaoinsrhl"
# Seeds share corpora in ALPHABETS classes: a corpus costs a JVM run to
# generate, so this bounds the generation a checkout pays however many
# seeds it is run with.
ALPHABETS = 4


def alphabet(seed):
    """The ten letters, in an order fixed by the seed's class."""
    return "".join(random.Random(f"alphabet:{seed % ALPHABETS}").sample(LETTERS, 10))


def sequence(seed, keys, rounds, salt):
    """`rounds` rounds, each a seeded shuffle of every key once.

    Balanced rounds keep the latency distribution the same from seed to
    seed (only the order changes), so a seed cannot move the medians by
    drawing an unlucky mix of slow keys.
    """
    rng = random.Random(f"{salt}:{seed}")
    out = []
    for _ in range(rounds):
        r = list(keys)
        rng.shuffle(r)
        out.extend(r)
    return out
