"""Uber-H3 compatibility adapter (``functions/h3compat.py``): the
pentagon digit-rotation order of the encode tail."""


def test_pentagon_rotation_order():
    """ADVICE r5 (medium): the pentagon encode tail must run the
    leading-K fix BEFORE the base-cell ccw rotations, and those
    rotations must be the pentagon-aware _h3RotatePent60ccw. Pinned by
    hand-composed digit paths (_ROT_CCW: K->IK->I->IJ->J->JK)."""
    from osmptparser_spark.functions.h3compat import (
        apply_base_cell_rotations,
        rotate_digits_pent60_ccw,
    )

    # leading K (1) with ccw pre-fix: [1,0,2] -ccw-> [5,0,3], then one
    # pent60ccw: 5->4 (leading, not K), 0->0, 3->1 => [4,0,1].
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=True, ccw_rots=1, cw_offset_face=False
    ) == [4, 0, 1]
    # the OLD (buggy) order — plain ccw rots first, then the K check on
    # the rotated path — would have produced [5,0,3]; pin the difference
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=True, ccw_rots=1, cw_offset_face=False
    ) != [5, 0, 3]
    # cw-offset face: the pre-fix rotates CW: [1,0,2] -cw-> [3,0,6],
    # then pent60ccw: 3->1 (leading IS K -> extra full ccw of [1,0,6]
    # => [5,0,2]), continue: 0->0, 2->3 => [5,0,3].
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=True, ccw_rots=1, cw_offset_face=True
    ) == [5, 0, 3]
    # inner re-rotation of pent60ccw alone: [3,2]: 3->1 (K! extra full
    # ccw of [1,2] => [5,3]), continue at pos 1: 3->1 => [5,1]
    assert rotate_digits_pent60_ccw([3, 2]) == [5, 1]
    # hexagon path unchanged: plain ccw rotations
    assert apply_base_cell_rotations(
        [1, 0, 2], pent=False, ccw_rots=1, cw_offset_face=False
    ) == [5, 0, 3]
    # zero rotations + non-K leading digit: untouched for pentagons too
    assert apply_base_cell_rotations(
        [2, 1], pent=True, ccw_rots=0, cw_offset_face=False
    ) == [2, 1]
