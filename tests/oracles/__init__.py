"""Test oracles: a brute-force rule miner (brute.py) and the reference-order
BFS simulator (refsim.py). Pure Python; they import nothing from the engine
they check."""
