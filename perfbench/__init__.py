"""The dexspark benchmark: see run.py and README.md."""
