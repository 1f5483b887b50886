"""Library of the graft benchmark: inputs, metrics and checks."""
