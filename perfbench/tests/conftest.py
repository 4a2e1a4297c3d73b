import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))  # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(_HERE)))  # the engine package
