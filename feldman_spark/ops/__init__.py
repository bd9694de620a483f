from .filters import conjunctive_filter, eq_filter, in_filter, point_in_interval, range_filter, valid_section_column
from .joins import anti_join, broadcast_equi_join, containment_join, semi_join
from .windows import expanding_slope, explode_section_range, first_seen, lag_diff, section_range
from .gaps import gap_above, merge_gap_columns, parse_gaps, with_parsed_gaps
from .identity import make_section_id, parse_section_id, split_section_id_columns
from .skew import salted_join
