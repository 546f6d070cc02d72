"""Seed determinism of the generated inputs and request sequences."""
import collections
import unittest

from bench import inputs


class SeedTest(unittest.TestCase):
    def test_same_seed_same_alphabet(self):
        self.assertEqual(inputs.alphabet(7), inputs.alphabet(7))

    def test_alphabet_is_ten_distinct_letters(self):
        for seed in range(50):
            a = inputs.alphabet(seed)
            self.assertEqual(len(a), 10)
            self.assertEqual(len(set(a)), 10)

    def test_seed_classes_differ(self):
        self.assertEqual(len({inputs.alphabet(s) for s in range(20)}), inputs.ALPHABETS)

    def test_same_seed_same_sequence(self):
        keys = ["a", "b", "c", "d"]
        self.assertEqual(inputs.sequence(3, keys, 5, "w"), inputs.sequence(3, keys, 5, "w"))
        self.assertNotEqual(inputs.sequence(3, keys, 5, "w"), inputs.sequence(4, keys, 5, "w"))

    def test_sequence_is_balanced(self):
        keys = ["a", "b", "c"]
        seq = inputs.sequence(11, keys, 4, "w")
        self.assertEqual(collections.Counter(seq), {"a": 4, "b": 4, "c": 4})
        for i in range(0, len(seq), len(keys)):
            self.assertEqual(sorted(seq[i:i + len(keys)]), keys)


if __name__ == "__main__":
    unittest.main()
