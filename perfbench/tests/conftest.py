import os
import sys

# the repository root: the engine package and the benchmark package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
