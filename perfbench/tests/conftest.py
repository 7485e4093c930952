import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules import each other by name (as run.py does) and
# the engine package from the repository root
sys.path[:0] = [os.path.dirname(_HERE), os.path.dirname(os.path.dirname(_HERE))]
